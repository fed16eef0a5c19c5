"""Output checks and per-layer aggregation for the graft benchmark.

Every check runs after the harness has exited, so none of it is in a
timed window:

* kg-lookup -- each distinct answer against the ``SparkEntry.oracleSql``
  of its source registry row (q152/q155/q178/q158/q154, q61), exported
  by the harness and run in DuckDB over the same corpus with the
  request's id substituted for the row's pinned id; repeated requests
  must return identical answers. Registry rows run verbatim: the answer
  served in the window must equal a rebuild after it, and the rebuild
  is compared with the row's oracle exactly, after sorting by column
  name and rows (the registry's own check).
* ingest -- the accumulated state against a batch recomputation over
  the files actually landed: the SQ8 code table is bit-identical to
  ``buildSq8Index`` (compared in the harness), every served top-k
  equals a brute-force int8 scan of what was committed at that moment,
  every near-duplicate pair is an exact pair (word-3-gram Jaccard >=
  0.6) with recall >= 0.8 of the exact pairs, and the SCD-2 history
  equals the q150 oracle's sequential fold.
"""
import glob
import json
import math
import os
import re
import statistics

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return ("b", bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return ("n", float(v))
    if v is None:
        return ("z", None)
    return ("s", str(v))


def _rows(rs):
    return [tuple(_norm(v) for v in r) for r in rs]


# ---------------------------------------------------------------- kg-lookup
# per template: the literals its source registry row's oracle pins the
# id with, what replaces each ({ID} the request's id, {KEY} the part
# after "DIS_"/"TGT_"/"DRG_"), and a flattener from the JSON answer rows
# to rows keyed by the oracle's column names
KG_TEMPLATES = {
    # q152
    "disease_known_drugs": (
        {"'DIS_BUILDING'": "'{ID}'", "'BUILDING'": "'{KEY}'"},
        lambda ds: [{"disease_id": d["id"], "disease_name": d["name"],
                     "n_rows": d["knownDrugs"]["count"], "rn": i + 1,
                     "phase": r["phase"], "drug_id": r["drug"]["id"],
                     "drug_name": r["drug"]["name"]}
                    for d in ds for i, r in enumerate(d["knownDrugs"]["rows"])]),
    # q155
    "disease_assoc_targets": (
        {"'DIS_MACHINERY'": "'{ID}'"},
        lambda ds: [{"rn": i + 1, "target_id": r["target"]["id"],
                     "target_name": r["target"]["approvedSymbol"], "score": r["score"]}
                    for d in ds for i, r in enumerate(d["associatedTargets"]["rows"])]),
    # q178
    "target_assoc_diseases": (
        {"'TGT_1'": "'{ID}'"},
        lambda ds: [{"rn": i + 1, "disease_id": r["disease"]["id"],
                     "disease_name": r["disease"]["name"], "score": r["score"]}
                    for d in ds for i, r in enumerate(d["associatedDiseases"]["rows"])]),
    # q158
    "target_drug_facets": (
        {"'TGT_2'": "'{ID}'"},
        lambda ds: [{"rn": i + 1, "drug_id": r["drug"]["id"], "name": r["drug"]["name"],
                     "synonyms": "|".join(r["drug"]["synonyms"]),
                     "drug_type": r["drug"]["drugType"],
                     "is_approved": r["drug"]["isApproved"],
                     "max_phase": r["drug"]["maximumClinicalTrialPhase"]}
                    for d in ds for i, r in enumerate(d["knownDrugs"]["rows"])]),
    # q154
    "drug_linked_targets": (
        {"'DRG_1'": "'{ID}'", "l_suppkey = 1": "l_suppkey = {KEY}",
         "s_suppkey = 1": "s_suppkey = {KEY}"},
        lambda ds: [{"drug_id": d["id"], "drug_name": d["name"],
                     "n_rows": d["linkedTargets"]["count"], "rank": r["rank"],
                     "target_id": r["target"]["id"],
                     "target_name": r["target"]["approvedSymbol"]}
                    for d in ds for r in d["linkedTargets"]["rows"]]),
    # q61: the oracle covers every drug; keep the request's row
    "api_drug_first_target": (
        {},
        lambda ds: [{"id": d["id"], "target_id": d["target_id"]} for d in ds]),
}
WHOLE_TABLE = {"api_drug_first_target"}


def template_sql(template, oracle, rid):
    """The source row's oracle with its pinned id replaced by `rid`.
    Every pinned literal must occur, so a registry edit that moves one
    fails the check instead of checking the pinned id."""
    subs, _ = KG_TEMPLATES[template]
    key = rid.split("_", 1)[1]
    for lit in subs:
        if not re.search(rf"(?<![\w']){re.escape(lit)}(?![\w'])", oracle):
            raise ValueError(f"{template}: {lit!r} not in its source row's oracle")
    sql = oracle
    if subs:
        sql = re.sub("|".join(rf"(?<![\w']){re.escape(x)}(?![\w'])"
                              for x in sorted(subs, key=len, reverse=True)),
                     lambda m: subs[m.group(0)].format(ID=rid, KEY=key), oracle)
    if template in WHOLE_TABLE:
        sql = f"SELECT * FROM ({sql}) WHERE id = '{rid}'"
    return sql


def check_kg(result, in_dir, out_dir):
    con = _connect(f"{in_dir}/corpus")
    with open(f"{out_dir}/template_oracle.json") as f:
        oracles = json.load(f)
    with open(f"{out_dir}/registry_rebuilt.json") as f:
        rebuilt = json.load(f)
    bad_keys, notes = set(), []
    n = n_reg = 0
    with open(f"{out_dir}/kg_answers.jsonl") as f:
        for line in f:
            a = json.loads(line)
            t, rid = a["template"], a["id"]
            if t not in KG_TEMPLATES:
                # a registry row: the answer served in the window equals
                # the rebuild after it, which is checked against the oracle
                n_reg += 1
                if sorted(a["rows"]) != sorted(rebuilt.get(rid, [])):
                    bad_keys.add((t, rid))
                    notes.append(f"registry {rid}: window answer differs from rebuild")
                continue
            cur = con.execute(template_sql(t, oracles[t], rid))
            cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            got = KG_TEMPLATES[t][1]([json.loads(r) for r in a["rows"]])
            n += 1
            if any(set(g) != set(cols) for g in got) or \
                    _rows(tuple(g[c] for c in cols) for g in got) != _rows(want):
                bad_keys.add((t, rid))
                if len(notes) < 3:
                    notes.append(f"kg {t} {rid}: got {got[:2]} want {want[:2]}")
    bad_rows, n_rows = _check_registry(con, out_dir, notes)
    wrong = sum(1 for o in result["ops"] if (o["tag"], o["key"]) in bad_keys
                or o["key"] in bad_rows)
    unstable = int(result["extra"].get("unstable_answers", 0))
    notes.insert(0, f"kg answers checked {n}, registry answers {n_reg}, wrong "
                    f"{len(bad_keys)}, unstable repeats {unstable}; registry "
                    f"rebuilds checked {n_rows}, wrong {len(bad_rows)}")
    ok = not bad_keys and not bad_rows and unstable == 0
    return {"ok": ok, "wrong_ops": wrong + unstable, "notes": notes}


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df


def _check_registry(con, out_dir, notes):
    """Registry rows against their oracle SQL; rows without an oracle
    must be non-empty (their in-query invariants throw on violation)."""
    with open(f"{out_dir}/registry_oracle.json") as f:
        oracle = json.load(f)
    bad, n = set(), 0
    for path in sorted(glob.glob(f"{out_dir}/registry/*")):
        name = os.path.basename(path)
        files = sorted(glob.glob(f"{path}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        n += 1
        try:
            if name not in oracle:
                assert len(got) > 0, "empty result, no oracle"
                continue
            s, d = _canon(got), _canon(con.execute(oracle[name]).df())
            assert list(s.columns) == list(d.columns) and len(s) == len(d), \
                f"shape {s.shape} vs {d.shape}"
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
        except AssertionError as e:
            bad.add(name)
            notes.append(f"registry {name}: {str(e)[:200]}")
    return bad, n


# ------------------------------------------------------------------- ingest
def _grams(text):
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _exact_pairs(texts, threshold):
    """All pairs with word-3-gram Jaccard >= threshold (inverted index)."""
    sets = {i: _grams(t) for i, t in texts.items()}
    post = {}
    for i, s in sets.items():
        for g in s:
            post.setdefault(g, []).append(i)
    shared = {}
    for ids in post.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                k = (ids[x], ids[y])
                shared[k] = shared.get(k, 0) + 1
    out = {}
    for (a, b), inter in shared.items():
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if round(j, 6) >= threshold:
            out[(a, b)] = j
    return out, sets


def check_ingest(plan, result, in_dir, out_dir):
    ex, notes, bad_kinds, wrong = result["extra"], [], set(), 0
    landed = [json.loads(x) for x in open(f"{out_dir}/ingest_landed.jsonl")]
    # SQ8: exactly-once and bit-identical to the batch build
    if not (ex["sq8_code_mismatch"] == 0 and
            ex["sq8_rows"] == ex["sq8_expected_rows"] == ex["sq8_distinct_ids"]):
        bad_kinds.add("embs")
        notes.append(f"sq8 codes: {ex}")
    # searches: brute force over the codes committed at search time
    ref = pq.read_table(f"{out_dir}/sq8_ref").to_pandas()
    codes = {int(i): np.frombuffer(c, dtype=np.int8).astype(np.int64)
             for i, c in zip(ref["vec_id"], ref["codes"])}
    emb_files = [f for k, f in landed if k == "embs"]
    bad_search, n_search = 0, 0
    for line in open(f"{out_dir}/searches.jsonl"):
        s = json.loads(line)
        ids = [i for f in emb_files[:s["emb_files"]] for i in plan["ingest_emb_ids"][f]
               if i != s["q"]]
        m = np.stack([codes[i] for i in ids])
        sc = m @ codes[s["q"]]
        order = sorted(range(len(ids)), key=lambda x: (-sc[x], ids[x]))[:len(s["res"])]
        want = [[ids[x], int(sc[x])] for x in order]
        n_search += 1
        if want != s["res"] or len(s["res"]) != min(10, len(ids)):
            bad_search += 1
            if bad_search == 1:
                notes.append(f"search q={s['q']}: got {s['res'][:3]} want {want[:3]}")
    wrong += bad_search
    # near-duplicates: subset of the exact pairs, recall floor
    texts = {}
    for k, f in landed:
        if k == "docs":
            t = pq.read_table(f"{in_dir}/ingest/docs/{f}").to_pydict()
            texts.update(zip(t["doc_id"], t["text"]))
    exact, _ = _exact_pairs(texts, 0.6)
    got = pq.read_table(f"{out_dir}/neardup_pairs").to_pydict()
    pairs = [(min(a, b), max(a, b), j) for a, b, j in
             zip(got["id_a"], got["id_b"], got["jaccard"])]
    keys = [(a, b) for a, b, _ in pairs]
    false_pos = [p for p in pairs if (p[0], p[1]) not in exact or
                 abs(exact[(p[0], p[1])] - p[2]) > 1e-6]
    recall = len(set(keys) & set(exact)) / max(1, len(exact))
    if false_pos or len(set(keys)) != len(keys) or recall < 0.8:
        bad_kinds.add("docs")
        notes.append(f"near-dup pairs: {len(false_pos)} not exact, "
                     f"{len(keys) - len(set(keys))} repeated, recall {recall:.3f}")
    # SCD-2: the q150 sequential fold over the landed files, in order
    con = duckdb.connect()
    files = [f"{in_dir}/ingest/orders/{f}" for k, f in landed if k == "orders"]
    if files:
        con.execute("CREATE TABLE u AS " + " UNION ALL ".join(
            f"SELECT id, price, v, {b} AS b FROM '{f}'" for b, f in enumerate(files)))
        want = con.execute("""
            WITH a AS (SELECT b, CAST(max(v) AS BIGINT) AS asof FROM u GROUP BY b),
            w AS (SELECT id, b, price, v FROM (SELECT *, row_number() OVER
                    (PARTITION BY id, b ORDER BY v DESC) AS rn FROM u) WHERE rn = 1)
            SELECT w.id, w.price, w.v, a.asof AS valid_from,
              lead(a.asof) OVER (PARTITION BY w.id ORDER BY w.b) AS valid_to
            FROM w JOIN a USING (b) ORDER BY id, valid_from""").df()
        have = pd.read_parquet(f"{out_dir}/scd2_history")
        try:
            pd.testing.assert_frame_equal(_canon(have), _canon(want), check_dtype=False,
                                          check_exact=True)
        except AssertionError as e:
            bad_kinds.add("orders")
            notes.append(f"scd2 history: {str(e)[:200]}")
    # every commit round feeds all three sinks: bad state in any makes
    # every round wrong
    if bad_kinds:
        wrong += sum(1 for o in result["ops"] if not o["search"])
    notes.insert(0, f"ingest triggers {len(landed)}, searches checked {n_search} "
                    f"(wrong {bad_search}), near-dup pairs {len(pairs)} of "
                    f"{len(exact)} exact, scd2 files {len(files)}, "
                    f"bad state {sorted(bad_kinds)}")
    return {"ok": not bad_kinds and bad_search == 0, "wrong_ops": wrong, "notes": notes}


def check(workload, plan, result, in_dir, out_dir):
    if workload == "kg-lookup":
        return check_kg(result, in_dir, out_dir)
    return check_ingest(plan, result, in_dir, out_dir)


# ---------------------------------------------------------------- per layer
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _dir_bytes(paths):
    total = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


# per-op layer numbers reported as a mean over the traced ops
PER_OP = {
    "GraphQl.execute_ms": ("GraphQl.execute.ms", "ms"),
    "KnowledgeGraph.resolve_ms": ("KnowledgeGraph.resolve.ms", "ms"),
    "ClientApi.build_ms": ("ClientApi.build.ms", "ms"),
    "SparkEntry.build_ms": ("SparkEntry.build.ms", "ms"),
    "SparkEntry.build_jobs": ("SparkEntry.build_jobs", "count"),
    "plan.analysis_ms": ("plan.analysis_ms", "ms"),
    "plan.optimization_ms": ("plan.optimization_ms", "ms"),
    "plan.planning_ms": ("plan.planning_ms", "ms"),
    "codegen.compile_ms": ("codegen.compile_ms", "ms"),
    "codegen.classes": ("codegen.classes", "count"),
    "exec.jobs": ("exec.jobs", "count"),
    "exec.stages": ("exec.stages", "count"),
    "exec.tasks": ("exec.tasks", "count"),
    "exec.run_ms": ("exec.run_ms", "ms"),
    "exec.cpu_ms": ("exec.cpu_ms", "ms"),
    "exec.sched_delay_ms": ("exec.sched_delay_ms", "ms"),
    "exec.gc_ms": ("exec.gc_ms", "ms"),
    "exec.shuffle_read_bytes": ("exec.shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("exec.shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("exec.spill_bytes", "bytes"),
    "Tables.rows_read": ("Tables.rows_read", "rows"),
    "Tables.bytes_read": ("Tables.bytes_read", "bytes"),
    "StreamOps.trigger_ms": ("StreamOps.trigger_ms", "ms"),
    "StreamOps.addBatch_ms": ("StreamOps.addBatch_ms", "ms"),
    "StreamOps.log_commit_ms": ("StreamOps.log_commit_ms", "ms"),
    "StreamOps.plan_ms": ("StreamOps.plan_ms", "ms"),
    "jvm.gc_pause_ms": ("jvm.gc_pause_ms", "ms"),
    "self.exec_ms": ("exec.self_ms", "ms"),
    "self.plan_ms": ("plan.self_ms", "ms"),
    "self.build_ms": ("build.self_ms", "ms"),
    "self.stream_ms": ("stream.self_ms", "ms"),
    "self.collect_ms": ("collect.self_ms", "ms"),
    "self.codegen_ms": ("codegen.self_ms", "ms"),
    "layers.unattributed_ms": ("unattributed_ms", "ms"),
    "driver.gap_ms": ("driver.gap_ms", "ms"),
}


def per_layer(workload, result, out_dir, work_dir, tmp_dir):
    """Every per-layer metric, by name -> (value, unit). Layers a workload
    does not exercise read 0.0."""
    layers = result.get("layers", [])
    ops = result["ops"]
    prim = [r for r in layers if not r.get("search")]
    srch = [r for r in layers if r.get("search")]
    rows_out = {r["op"]: max(0, ops[r["op"]]["rows"]) for r in prim}

    def mean(rs, k):
        return sum(r.get(k, 0.0) for r in rs) / len(rs) if rs else 0.0

    out = {name: (mean(prim, key), unit) for name, (key, unit) in PER_OP.items()}
    # timed after the window on the same documents (see KgLookup.parseMs)
    ex = result["extra"]
    out["GraphQl.parse_ms"] = (sum(ex.get(f"parse_ms.{ops[r['op']]['tag']}", 0.0)
                                   for r in prim) / len(prim) if prim else 0.0, "ms")
    tasks = sum(r.get("exec.tasks", 0.0) for r in prim)
    out["exec.task_fail_ratio"] = (
        sum(r.get("exec.task_fail_ratio", 0.0) * r.get("exec.tasks", 0.0) for r in prim)
        / tasks if tasks else 0.0, "ratio")
    out["Tables.rows_read_per_row_out"] = (
        sum(r.get("Tables.rows_read", 0.0) for r in prim) /
        max(1, sum(rows_out.values())), "ratio")
    # self-time accounting on the median op: the share of its wall time
    # that a named layer accounts for (all but the unattributed time)
    if prim:
        med = sorted(prim, key=lambda r: r["wall_ms"])[len(prim) // 2]
        out["layers.median_op_wall_ms"] = (med["wall_ms"], "ms")
        out["layers.explained_share"] = (
            1.0 - med["unattributed_ms"] / med["wall_ms"], "ratio")
    else:
        out["layers.median_op_wall_ms"] = (0.0, "ms")
        out["layers.explained_share"] = (0.0, "ratio")
    out["jvm.heap_peak_mb"] = (result["heap_peak_mb"], "MB")
    # tracing overhead: traced minus untraced p50 of the same run
    n0 = result["untraced_ops"]
    base = [o["ms"] for o in ops[:n0] if o["ok"] and not o["search"]]
    traced = [o["ms"] for o in ops[n0:] if o["ok"] and not o["search"]]
    over = _median(traced) - _median(base) if base and traced else 0.0
    out["trace.overhead_ms"] = (over, "ms")
    out["trace.overhead_share"] = (over / _median(base) if base else 0.0, "ratio")
    # set-up
    sl = result.get("setup_layers", {})
    reps = max(1, len(result["setup_s"]))
    out["Sessions.start_ms"] = (sl.get("Sessions.start_ms", 0.0), "ms")
    ensure = {"kg-lookup": "Artifact.ensure.ms",
              "ingest": "Similarity.initSq8Scales.ms"}[workload]
    out["Artifact.ensure_ms"] = (sl.get(ensure, 0.0), "ms")
    arts = ([os.path.join(tmp_dir, d) for d in os.listdir(tmp_dir)
             if d.startswith("graft_") and not d.startswith("graft_q")] +
            [os.path.join(work_dir, d) for d in os.listdir(work_dir) if d.startswith("kgidx")] +
            glob.glob(f"{work_dir}/ingest-*/idx/scales"))
    out["Artifact.bytes_written"] = (_dir_bytes(arts) / reps, "bytes")
    t0 = result["window_start_ms"] / 1000.0
    late = sum(1 for a in arts if os.stat(a).st_mtime > t0)
    out["Artifact.hit_ratio"] = (1.0 - late / len(arts) if arts else 1.0, "ratio")
    # ingest: trigger I/O, compaction, search
    io = []
    if os.path.exists(f"{out_dir}/trigger_io.jsonl"):
        io = [json.loads(x) for x in open(f"{out_dir}/trigger_io.jsonl")]
    written = [max(0.0, r["bytes"] - r["in_bytes"]) for r in io]
    out["StreamOps.bytes_written"] = (sum(written) / len(io) if io else 0.0, "bytes")
    out["StreamOps.files_written"] = (
        sum(r["files"] - r["landed"] for r in io) / len(io) if io else 0.0, "count")
    out["StreamOps.write_amp"] = (
        sum(written) / sum(r["in_bytes"] for r in io) if io else 0.0, "ratio")
    for k, u in (("Compaction.fold_ms", "ms"), ("Compaction.bytes_rewritten", "bytes"),
                 ("Compaction.files_before", "count"), ("Compaction.files_after", "count"),
                 ("Compaction.space_amp", "ratio")):
        out[k] = (float(ex.get(k, 0.0)), u)
    out["Similarity.search_ms"] = (mean(srch, "Similarity.search.ms"), "ms")
    sl_ms = [o["ms"] for o in ops if o["search"] and o["ok"]]
    out["Similarity.search_p50_ms"] = (_pct(sl_ms, 50), "ms")
    out["Similarity.search_p90_ms"] = (_pct(sl_ms, 90), "ms")
    files, scanned = [], []
    if os.path.exists(f"{out_dir}/searches.jsonl"):
        for x in open(f"{out_dir}/searches.jsonl"):
            s = json.loads(x)
            if s.get("files", -1) >= 0:
                files.append(s["files"])
                scanned.append(s["index_rows"] / max(1, len(s["res"])))
    out["Similarity.files_per_search"] = (sum(files) / len(files) if files else 0.0, "count")
    out["Similarity.rows_scanned_per_result"] = (
        sum(scanned) / len(scanned) if scanned else 0.0, "ratio")
    for k, (v, u) in out.items():
        if isinstance(v, float) and math.isnan(v):
            out[k] = (0.0, u)
    return out
