package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Artifact, Dedup}

/** One registered query: its name (`q<NN>_<slug>`), the builder run
  * over a corpus directory, and the DuckDB oracle SQL whose rows the
  * builder must reproduce (identical column names and ORDER BY).
  */
private[graft] final case class Query(name: String,
                                      build: (SparkSession, String) => DataFrame,
                                      oracle: String)

/** What the per-family registries share: the table shorthand, fixture
  * paths and file landing, the in-query invariants, the shared dedup
  * artifacts and verdict builders, and the SQL texts used by a builder
  * and its oracle or by several oracles.
  */
private[graft] object Support {

  def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Derived on-disk artifacts (CSV checkpoint, endpoint shards, IVF
    * index) live in tmpdir under a tag of the SOURCE table's size and
    * mtime, so regenerated testdata or two dirs with colliding
    * hashCodes can never serve stale or cross-wired fixtures — the
    * path changes with the data and the artifact is rebuilt.
    */
  def fixturePath(prefix: String, dir: String, sourceTables: String*): String = {
    def stat(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty).map(stat)
        (kids.map(_._1).sum, (f.lastModified() +: kids.map(_._2)).max)
      } else (f.length(), f.lastModified())
    // fold EVERY source table into the tag: an artifact built from
    // three tables keyed on one would survive regeneration of the
    // other two and serve stale rows against a fresh oracle
    val tag0 = sourceTables.foldLeft(dir.hashCode.toLong << 32) { (acc, tbl) =>
      val (len, mtime) = stat(new java.io.File(dir, s"$tbl.parquet"))
      (acc * 1000003L) ^ (len * 1000003L) ^ mtime
    }
    val tag = java.lang.Long.toHexString(tag0)
    val tmpdir = System.getProperty("java.io.tmpdir")
    val path = s"$tmpdir/graft_${prefix}_$tag"
    // Retention: regenerated source data changes the tag, stranding
    // the previous generation's directories forever (the round-6
    // audit found three full generations under /tmp). Every path this
    // process has handed out stays protected; any OTHER same-family
    // dir that has also been mtime-quiet for the sweep window is a
    // superseded generation — reclaim it. Deterministic artifacts
    // make a mistaken delete self-healing (the next ensure rebuilds).
    val live = Option(liveFixtures.putIfAbsent(prefix,
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()))
      .getOrElse(liveFixtures.get(prefix))
    live.add(path)
    import scala.jdk.CollectionConverters._
    Artifact.sweep(tmpdir, s"graft_${prefix}_", live.asScala.toSet)
    path
  }

  /** Every fixture path handed out by this JVM, per family prefix —
    * the sweep's keep-set, so concurrently-used corpora (the bench
    * warms sf0.001 then times sf0.1) never reclaim each other.
    */
  private val liveFixtures =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.Set[String]]()

  /** A fresh scratch directory for one invocation of registry row
    * `row` (`q<NN>`), for a row that rebuilds its state from nothing on
    * every run so it is comparable run over run. The row's earlier
    * scratch goes first: this JVM's previous one at once (rows run one
    * at a time, so its result has been read), another process's once
    * quiet for the sweep window (the [[fixturePath]] rule).
    */
  def scratchDir(row: String): String = {
    val prefix = s"graft_${row}_"
    Option(scratchDirs.get(row)).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    Artifact.sweep(System.getProperty("java.io.tmpdir"), prefix, Set.empty)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.put(row, dir)
    dir
  }

  /** The scratch directory of each row's latest invocation in this JVM. */
  private val scratchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** In-query invariants beyond the oracle's rows: a sketch/ANN query
    * asserts its own correctness contract (subset-of-exact, recall
    * floor, banding completeness, fixture ground truth) at
    * construction time and THROWS on violation. Keys are `qNN/...`.
    * A `once` check runs once per JVM per key; a failed check re-arms
    * so retries re-validate.
    */
  object SelfCheck {
    /** One invariant's outcome: which check ran, whether it held, and
      * the values it measured — the evidence Verify dumps to
      * `invariants.json` next to the parquet results.
      */
    final case class Evidence(key: String, passed: Boolean,
                              measured: Seq[String], error: Option[String])
    private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val records =
      new java.util.concurrent.ConcurrentHashMap[String, Evidence]()
    private val notes =
      new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]
    val FixtureDir = "/root/testdata/sf0.001"
    def fixtureExists: Boolean = new java.io.File(FixtureDir).isDirectory

    /** Record a measured value for the invariant currently running —
      * a no-op outside a check body.
      */
    def note(msg: String): Unit =
      Option(notes.get()).foreach { b => b += msg; () }

    def once(key: String)(check: => Unit): Unit =
      if (done.add(key)) {
        try record(key)(check)
        catch { case e: Throwable => done.remove(key); throw e }
      }

    /** Like [[once]] but re-runs (and re-records) on every call — for
      * invariants cheap enough to validate per invocation.
      */
    def every(key: String)(check: => Unit): Unit = record(key)(check)

    private def record(key: String)(body: => Unit): Unit = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      notes.set(buf)
      try {
        body
        records.put(key, Evidence(key, passed = true, buf.toSeq, None))
        ()
      } catch {
        case e: Throwable =>
          records.put(key, Evidence(key, passed = false, buf.toSeq,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
          throw e
      } finally notes.remove()
    }

    def evidence: Seq[Evidence] =
      records.values.toArray(Array.empty[Evidence]).toSeq.sortBy(_.key)
  }

  /** Order-independent money sum: casting each term to DECIMAL before
    * summing makes the aggregate exact (no fp accumulation), so Spark's
    * parallel sum and DuckDB's sequential sum agree bit-for-bit at the
    * round(2) boundary. The oracle twin is
    * `CAST(round(sum(CAST(x AS DECIMAL(18,4))),2) AS DOUBLE)`.
    */
  def moneySum(term: Column): Column =
    round(sum(term.cast("decimal(18,4)")), 2).cast("double")

  /** One-row (subset_of_exact, recall_ok) verdict over pair relations
    * keyed (id_a, id_b): `got` emits nothing outside `exKeys` and
    * recovers at least `floor` of it (vacuously true on an empty
    * exact set). Plan-fused — the envelope oracles pin these booleans
    * TRUE, so the check must ride the query, never a count-require
    * job. Shared by the near-dup envelopes (q31, q199).
    */
  def subsetRecallVerdict(got: DataFrame, exKeys: DataFrame,
                          floor: Double): DataFrame =
    got.join(exKeys, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__fp"))
      .crossJoin(got.join(exKeys, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__hit")))
      .crossJoin(exKeys.agg(count(lit(1)).as("__n")))
      .select((col("__fp") === 0L).as("subset_of_exact"),
        (col("__n") === 0L || col("__hit") >= col("__n") * floor)
          .as("recall_ok"))

  /** One-row recall-floor verdict over (query_id, nn_id) retrieval
    * pairs: the banded candidates recover at least `floor` of the
    * exact rows — vacuously true on an empty exact set (sum() over
    * zero rows is NULL, which would otherwise turn the pinned-TRUE
    * verdict into NULL, the subsetRecallVerdict guard). Shared by
    * the KNN envelopes (q36, q88).
    */
  def hitFloorVerdict(exact: DataFrame, banded: DataFrame,
                      floor: Double): DataFrame =
    exact.select(col("query_id"), col("nn_id"))
      .join(banded.select(col("query_id"), col("nn_id"), lit(1).as("__hit")),
        Seq("query_id", "nn_id"), "left")
      .agg((count(lit(1)) === 0L ||
        sum(coalesce(col("__hit"), lit(0))).cast("double")
          >= count(lit(1)).cast("double") * floor).as("ann_recall_ok"))

  /** THE pinned shingle width for the whole n-gram jaccard family:
    * one constant threads through the ensureShingleSets build AND
    * every consumer. Dedup additionally enforces the width at runtime
    * (field metadata on the relation + a parameter sidecar on the
    * persisted artifact — see the contract on Dedup.jaccardPairs), so
    * a drifted constant would throw rather than corrupt results.
    */
  val JaccardShingleN = 3

  /** Shared hashed-shingle relation (id, sh) for the n-gram family:
    * q30's pair join, the q69/q90/q125 label build, and both
    * decontamination consumers (q65, q125) all read ONE persisted
    * shingling of the corpus instead of re-tokenizing it per query —
    * the first checkpoint a 100 TB text pipeline would materialize.
    * n is pinned to 3 here so every consumer shares the same artifact.
    */
  def sharedShingles(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureShingleSets(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, fixturePath("shingles", dir, "documents"))

  /** Persisted exact-pair relation at the corpus's standard dedup
    * threshold — standing pipeline state like the shingle and label
    * artifacts, shared by every consumer that KEYS on the exact pair
    * set (q31's envelope, q183's oracle side, q191's batch fold).
    * q30 deliberately does NOT read it: that row benches the live
    * PPJoin that BUILDS this artifact.
    */
  def sharedPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureJaccardPairs(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
      fixturePath("jacpairs", dir, "documents"),
      shingles = Some(sharedShingles(s, dir)))

  /** Shared jaccard-cluster label relation for the dedup family (q69
    * reports it, q90 prunes with it): built once per input dir via the
    * persisted-artifact path, so the expensive prefix-join + connected
    * components runs a single time per corpus instead of once per
    * consumer. Parameters are pinned here so every consumer sees the
    * same relation.
    */
  def jaccardLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.ensureClusterLabels(t(s, dir).documents, "doc_id", "text",
      n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
      fixturePath("jacclabels", dir, "documents"),
      shingles = Some(sharedShingles(s, dir)))

  /** Land each frame as the single parquet file `<dir>/<name>.parquet`,
    * mtimes spaced 2 s apart in argument order: a file source with
    * maxFilesPerTrigger=1 orders its backlog by mtime, so it replays
    * one file per trigger, first argument first.
    */
  def landFiles(dir: String, files: (String, DataFrame)*): Unit = {
    val base = System.currentTimeMillis() - 3600L * 1000
    files.zipWithIndex.foreach { case ((name, df), i) =>
      val part = s"$dir/_$name"
      df.coalesce(1).write.parquet(part)
      val f = new java.io.File(part).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(base + (i + 1) * 2000L)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(part))
    }
  }

  /** q200's dictionary: shared between the Spark query and the
    * oracle text (both sides must list patterns identically).
    */
  val DictPatterns = Seq(
    "data", "data data", "the join", "spark", "query query", "window scan")

  /** q172's pinned piece set: the multi-char pieces `UnigramLm
    * .learnVocab(fixture documents, vocabSize=80, maxPieceLen=4,
    * iters=3)` converges to (q172's SelfCheck re-derives and
    * compares). Single chars are the encoder's built-in fallback and
    * are not pinned.
    */
  val UnigramPieces: Seq[String] = Seq(
    "agg", "batc", "big", "co", "cust", "data", "dup", "er", "fast",
    "filt", "hash", "join", "key", "line", "lumn", "mall", "merg",
    "omer", "or", "orde", "ow", "park", "part", "quer", "ream",
    "roup", "row", "scan", "slow", "sort", "st", "tabl", "the",
    "valu", "vect", "wind")

  /** q151's pinned merge table: chains that actually fire on the
    * documents vocabulary (table, value, scan, row, window), in
    * priority order. All pairs are a ≠ b, which keeps the DuckDB
    * replace-chain oracle exact (for a ≠ b the two-pass replace it
    * mirrors equals the greedy pass the engine kernel computes).
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "v" -> "a", "va" -> "l", "val" -> "u", "valu" -> "e",
    "s" -> "c", "sc" -> "a", "sca" -> "n",
    "r" -> "o", "ro" -> "w",
    "w" -> "i", "wi" -> "n", "win" -> "d", "wind" -> "o", "windo" -> "w")

  /** q144's FULL oracle: re-learn the BPE merge table INSIDE DuckDB
    * as `steps` unrolled argmax layers — the q201 greedy-unroll
    * device applied to the whole training loop, one CTE layer per
    * merge step. Every quantity is integer arithmetic (pair counts
    * are weighted BIGINT sums; the argmax tie-break is count DESC,
    * "a b" ASC — string order, same collation both engines), so the
    * learned (step, left, right, merged, pair_count) table replays
    * bit-exactly with no float anywhere. The greedy left-to-right
    * merge application is a `list_reduce` fold over the word's symbol
    * list accumulating the space-joined string (last-token check +
    * replace-or-append) — EXACTLY `BpeLearn.applyMerge`'s fold,
    * self-merges included, with none of the encode-side two-pass
    * replace's a = b caveats. CTEs are MATERIALIZED: each state feeds
    * two consumers (pair counting + the next state), and DuckDB's
    * default per-reference inlining re-derives the whole chain
    * exponentially (measured: >300 s inlined vs 0.2 s materialized at
    * sf0.01). Early stop (no pair with count >= 2) degrades exactly
    * like the engine loop: the filtered argmax row vanishes, every
    * later state passes through unchanged via the LEFT JOIN null arm,
    * and no further merge rows are emitted.
    */
  def bpeLearnOracleSql(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n, string_split(w, '') AS syms
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0
  GROUP BY w)"""
    for (k <- 0 until steps) {
      sb ++= s""",
p$k AS MATERIALIZED (
  SELECT t.p AS p, CAST(sum(s.n) AS BIGINT) AS c
  FROM w$k s, unnest(list_transform(range(1, len(s.syms)),
    i -> s.syms[i] || ' ' || s.syms[i+1])) AS t(p)
  WHERE len(s.syms) > 1
  GROUP BY t.p),
b$k AS MATERIALIZED (
  SELECT string_split(p, ' ')[1] AS a, string_split(p, ' ')[2] AS b, c
  FROM p$k WHERE c >= 2 ORDER BY c DESC, p ASC LIMIT 1)"""
      if (k < steps - 1) sb ++= s""",
w${k + 1} AS MATERIALIZED (
  SELECT s.n,
    CASE WHEN b.a IS NULL OR len(s.syms) < 2 THEN s.syms
         ELSE string_split(list_reduce(s.syms, (acc, x) ->
           CASE WHEN (acc = b.a OR ends_with(acc, ' ' || b.a)) AND x = b.b
                THEN substr(acc, 1, len(acc) - len(b.a)) || b.a || b.b
                ELSE acc || ' ' || x END), ' ') END AS syms
  FROM w$k s LEFT JOIN b$k b ON TRUE)"""
    }
    val sel = (0 until steps).map { k =>
      if (k == 0)
        """SELECT CAST(0 AS BIGINT) AS step, a AS "left", b AS "right",
     a || b AS merged, c AS pair_count FROM b0"""
      else s"SELECT $k, a, b, a || b, c FROM b$k"
    }.mkString("\n   UNION ALL ")
    sb ++= s"\nSELECT * FROM (\n   $sel) ORDER BY step"
    sb.toString
  }

  /** q171's FULL oracle: re-run the whole unigram-LM hard-EM loop
    * INSIDE DuckDB — seed from substring counts, then `iters` unrolled
    * EM layers, each = one Viterbi forward DP + backtrack over the
    * distinct-word relation (recursive CTEs), one weighted piece-count
    * aggregation, the prune window, and the cost re-estimate. The
    * Viterbi DP carries each word's per-position candidate costs
    * INSIDE the recursion state as a list-of-lists (built by a plain
    * relational join against the current vocab BEFORE the recursion):
    * DuckDB 1.0's correlated subqueries inside recursive members
    * return wrong rows nondeterministically (observed: single-char
    * vocab lookups falling back to UNK on some words), so the
    * recursive step does pure list arithmetic only — the per-position
    * argmin is `list_sort(candidate structs)[1]`, lexicographic on
    * (total cost, predecessor), exactly UnigramKernel.viterbi's
    * "smaller cost, then smaller j (longer piece)" tie-break. Costs
    * are micro-nat longs rounded once per estimate —
    * `round(-ln(count/total)*1e6)` on the same IEEE doubles both
    * engines — so the DP itself is exact integer arithmetic (the
    * q84/q203 fixed-point discipline; a boundary-landing ln would
    * need agreement to ~4e-9 of a rounding edge).
    */
  def unigramLearnOracleSql(vocabSize: Int, maxLen: Int,
                                    iters: Int, unkCost: Long): String = {
    def emLayer(k: Int): String = s"""cand$k AS MATERIALIZED (
  SELECT g.w, g.i, g.l,
    CASE WHEN vv.cost IS NOT NULL THEN vv.cost
         WHEN g.l = 1 THEN CAST($unkCost AS BIGINT) END AS pc
  FROM (SELECT w, CAST(t.s['i'] AS INT) AS i, CAST(t.s['l'] AS INT) AS l,
          t.s['p'] AS piece
        FROM words, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
          list_transform(range(1, least($maxLen, i) + 1), l ->
            {'i': i, 'l': l,
             'p': substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT))})))) t(s)) g
  LEFT JOIN v${k - 1} vv USING (piece)
  WHERE vv.cost IS NOT NULL OR g.l = 1),
wc$k AS MATERIALIZED (
  SELECT w, list(cl ORDER BY i) AS cands FROM (
    SELECT w, i, list({'l': l, 'pc': pc} ORDER BY l) AS cl
    FROM cand$k GROUP BY w, i) GROUP BY w),
f$k AS (
  SELECT s.w, s.n, wc.cands, 1 AS i,
    CAST([0] AS BIGINT[]) AS best, CAST([] AS INT[]) AS back
  FROM words s JOIN wc$k wc USING (w)
  UNION ALL
  SELECT w, n, cands, i + 1,
    list_append(best, m.c), list_append(back, CAST(m.j AS INT))
  FROM (
    SELECT w, n, cands, i, best, back,
      list_sort(list_transform(cands[i], x ->
        {'c': best[i - x.l + 1] + x.pc, 'j': i - x.l}))[1] AS m
    FROM f$k WHERE i <= len(w))),
bt$k AS (
  SELECT w, n, len(w) AS pos, back, CAST([] AS VARCHAR[]) AS pieces
  FROM f$k WHERE i = len(w) + 1
  UNION ALL
  SELECT w, n, back[pos], back,
    list_prepend(substr(w, back[pos] + 1, pos - back[pos]), pieces)
  FROM bt$k WHERE pos > 0),
sc$k AS MATERIALIZED (
  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT n, unnest(pieces) AS piece FROM bt$k WHERE pos = 0)
  GROUP BY piece),
pr$k AS MATERIALIZED (
  SELECT piece, cnt FROM sc$k WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
    FROM sc$k WHERE len(piece) > 1)
  WHERE rk <= greatest(0,
    $vocabSize - (SELECT count(*) FROM sc$k WHERE len(piece) = 1))),
v$k AS MATERIALIZED (
  SELECT piece, CAST(round(-ln(CAST(cnt AS DOUBLE) / t.tot) * 1e6) AS BIGINT) AS cost
  FROM pr$k CROSS JOIN (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM pr$k) t)"""
    val head = s"""words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w),
subc AS MATERIALIZED (
  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
  FROM words, unnest(flatten(list_transform(range(0, len(w)), i ->
    list_transform(range(1, least($maxLen, len(w) - i) + 1), l ->
      substr(w, CAST(i + 1 AS INT), CAST(l AS INT)))))) t(piece)
  GROUP BY piece),
seed AS MATERIALIZED (
  SELECT piece, cnt FROM subc WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
    FROM subc WHERE len(piece) > 1)
  WHERE rk <= greatest(0,
    ${4 * vocabSize} - (SELECT count(*) FROM subc WHERE len(piece) = 1))),
v0 AS MATERIALIZED (
  SELECT piece, CAST(round(-ln(CAST(cnt AS DOUBLE) / t.tot) * 1e6) AS BIGINT) AS cost
  FROM seed CROSS JOIN (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM seed) t)"""
    val layers = (1 to iters).map(emLayer).mkString(",\n")
    s"""WITH RECURSIVE $head,
$layers
SELECT p.piece, v.cost AS cost_micro, p.cnt AS n_uses
FROM pr$iters p JOIN v$iters v USING (piece)
ORDER BY n_uses DESC, piece"""
  }

  // Shared oracle steps. Each text is one or more CTEs (or a whole
  // oracle) written out once, byte for byte as every oracle that uses
  // it renders it, and composed by interpolation. A step is defined
  // before the texts that use it: a later val would render null.

  /** A document's normalised tokens `toks(doc_id, ts)`: lower-cased,
    * every non-alphanumeric blanked, space runs collapsed.
    */
  val SqlDocTokens =
    """toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents)"""

  /** `toks` → `sh(doc_id, s)`, each document's distinct word 3-shingle
    * set ([[JaccardShingleN]]), → `ex(doc_id, g)`, one row per shingle —
    * the exact side of the whole n-gram Jaccard family.
    */
  val SqlDocShingles =
    s"""$SqlDocTokens,
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh)"""

  /** Over `ex` and `sh`: `inter(id_a, id_b, i)`, the shared-shingle count
    * of each pair id_a < id_b, and `sz(doc_id, n)`, each set's size.
    */
  val SqlShingleOverlap =
    """inter AS (
           SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g AND l.doc_id < r.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM sh)"""

  /** `pairs(id_a, id_b)`: the `inter` pairs whose rounded Jaccard
    * |a∩b| / (|a|+|b|−|a∩b|) is at least 0.6, the corpus's dedup threshold.
    */
  val SqlJaccardPairs =
    """pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6)"""

  /** Connected components over `pairs` (needs `WITH RECURSIVE`): `edges`
    * both ways, `reach(id, lbl)` every label reachable from each id; an
    * id's component label is its min(lbl).
    */
  val SqlPairComponents =
    """edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)"""

  /** The exact Jaccard ≥ 0.6 pair rows with the LSH verdicts pinned
    * TRUE — q31's oracle and its streaming twin's (q199).
    */
  val SqlJaccardEnvelope =
    s"""WITH $SqlDocShingles,
         $SqlShingleOverlap
         SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
         ORDER BY id_a, id_b"""

  /** BM25 (k1 1.2, b 0.75) over `tok(doc_id, term)`: `post` term
    * frequencies, `dl` lengths, `stats`, the fixed-point `idf` and
    * `contrib(doc_id, c)` per hit of the query terms dup, spark and
    * window. Fractional literals carry e0 so DuckDB types them DOUBLE
    * (a bare 2.2 is DECIMAL, and tf*DECIMAL is not the IEEE product Spark
    * computes); the fixed-point floors make both engines' sums exact.
    */
  val SqlBm25Contrib =
    """post AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         stats AS (SELECT count(*) AS nd,
             CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
         idf AS (SELECT term, avgdl,
             CAST(floor(ln((nd - df + 0.5e0)/(df + 0.5e0) + 1.0e0)*1e4 + 0.5e0)
               AS BIGINT) AS idf4
           FROM (SELECT term, count(*) AS df FROM post
                 WHERE term IN ('dup','spark','window') GROUP BY 1)
           CROSS JOIN stats),
         contrib AS (
           SELECT p.doc_id,
             i.idf4 * CAST(floor(p.tf*2.2e0/(p.tf + 1.2e0*(0.25e0 + 0.75e0*d.dl/i.avgdl))
               *1e6 + 0.5e0) AS BIGINT) AS c
           FROM post p JOIN dl d USING (doc_id) JOIN idf i USING (term)
           WHERE p.term IN ('dup','spark','window'))"""

  /** The BM25 top-10 over the whole corpus — the batch index (q137),
    * its append-built twin (q194) and the streamed index (q195).
    */
  val SqlBm25TopK =
    s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         $SqlBm25Contrib
         SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS DOUBLE)/1e10 AS bm25
         FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""

  /** `tok(doc_id, token)` over space-split text, the `freq` and `tot`
    * counts, and `lp(token, lp4)`: each token's surprisal −ln p in fixed
    * point 1e-4 (q84, q203).
    */
  val SqlUnigramLogProbs =
    """tok AS (
           SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM tok),
         lp AS (SELECT token,
             CAST(floor(-ln(CAST(c AS DOUBLE)/t.n)*1e4 + 0.5) AS BIGINT) AS lp4
           FROM freq CROSS JOIN tot t)"""

  /** Gear-style content-defined chunking over `toks(doc_id, ts)`: `wds`
    * one word per position, `flg` the boundary bit, `cid(doc_id, pos, w,
    * ci)` each word's chunk index (q185, q233).
    */
  val SqlWordChunks =
    """wds0 AS (
           SELECT doc_id, unnest(range(1, len(ts)+1)) AS pos, ts FROM toks),
         wds AS (
           SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w FROM wds0),
         flg AS (
           SELECT doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS b
           FROM wds),
         cid AS (
           SELECT doc_id, pos, w,
             COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg)"""

  /** Duplicate spans `iv(doc_id, s, e)` merged into islands (`op` → `reg`
    * → `agg`), then per document of `w(doc_id, ws)`: words, regions,
    * duplicate words, their ppm and the md5 of the text without them
    * (q180, q181; the caller adds its filter and order).
    */
  val SqlIslandMerge =
    """op AS (SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                              ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            CAST(-2 AS BIGINT)) + 1 THEN 1 ELSE 0 END AS opens
                FROM iv),
         reg AS (SELECT doc_id, min(s) AS rs, max(e) AS re
                 FROM (SELECT doc_id, s, e,
                              sum(opens) OVER (PARTITION BY doc_id
                                ORDER BY s, e) AS isl
                       FROM op)
                 GROUP BY doc_id, isl),
         agg AS (SELECT doc_id, count(*) AS nreg, sum(re - rs + 1) AS ndup,
                        list({'s': rs, 'e': re} ORDER BY rs, re) AS ivs
                 FROM reg GROUP BY doc_id)
         SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT) AS total_words,
           CAST(coalesce(a.nreg, 0) AS BIGINT) AS dup_regions,
           CAST(coalesce(a.ndup, 0) AS BIGINT) AS dup_words,
           CAST(coalesce(a.ndup, 0) * 1000000 // len(w.ws) AS BIGINT) AS dup_ppm,
           md5(coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(w.ws) + 1),
                 i -> len(list_filter(coalesce(a.ivs, []),
                        v -> i >= v.s AND i <= v.e)) = 0),
               i -> w.ws[CAST(i AS INT)]),
             ' '), '')) AS clean_fp
         FROM w LEFT JOIN agg a USING (doc_id)"""

  /** Every occurrence `m(doc_id, lang, pattern, pos)` of a `pats` pattern
    * in each document (recursive; q200, q210).
    */
  val SqlDictMatches =
    """m(doc_id, lang, pattern, pos) AS (
           SELECT d.doc_id, d.lang, p.pattern, strpos(d.text, p.pattern)
           FROM documents d CROSS JOIN pats p
           WHERE strpos(d.text, p.pattern) > 0
           UNION ALL
           SELECT m.doc_id, m.lang, m.pattern,
             m.pos + strpos(substr(d.text, m.pos + 1), m.pattern)
           FROM m JOIN documents d ON d.doc_id = m.doc_id
           WHERE strpos(substr(d.text, m.pos + 1), m.pattern) > 0)"""

  /** From all matches `m(doc_id, pattern, pos)`: the greedy leftmost-
    * longest selection (`ml` → `sel` → `fin`) and the per-segment rebuild
    * `red(doc_id, redacted, n_red)` (q209, q216).
    */
  val SqlDictRedaction =
    """ml AS MATERIALIZED (
           SELECT doc_id,
             list({'s': CAST(pos AS BIGINT), 'nl': -CAST(len(pattern) AS BIGINT)}
               ORDER BY pos, -len(pattern)) AS ms
           FROM m GROUP BY doc_id),
         sel AS (
           SELECT doc_id, ms,
             CAST([] AS STRUCT(s BIGINT, nl BIGINT)[]) AS picks,
             CAST(1 AS BIGINT) AS cur
           FROM ml
           UNION ALL
           SELECT doc_id, ms, list_append(picks, nxt), nxt.s - nxt.nl
           FROM (SELECT doc_id, ms, picks, cur,
                   list_filter(ms, x -> x.s >= cur)[1] AS nxt
                 FROM sel)
           WHERE nxt IS NOT NULL),
         fin AS MATERIALIZED (
           SELECT doc_id, arg_max(picks, len(picks)) AS picks
           FROM sel GROUP BY doc_id),
         px AS (
           SELECT f.doc_id, t.e['i'] AS i, t.e['s'] AS s, -t.e['nl'] AS l
           FROM fin f, unnest(list_transform(range(1, len(picks) + 1), j ->
             {'i': j, 's': picks[j].s, 'nl': picks[j].nl})) t(e)),
         seg AS (
           SELECT p.doc_id, p.i, p.s, p.l,
             coalesce(lag(p.s + p.l) OVER (PARTITION BY p.doc_id ORDER BY p.i), 1) AS pe
           FROM px p),
         red AS (
           SELECT s.doc_id,
             string_agg(substr(d.text, CAST(s.pe AS INT), CAST(s.s - s.pe AS INT)) || '[X]', ''
               ORDER BY s.i) || substr(max(d.text), CAST(max(s.s + s.l) AS INT)) AS redacted,
             count(*) AS n_red
           FROM seg s JOIN documents d ON d.doc_id = s.doc_id
           GROUP BY s.doc_id)"""

  /** Naive Bayes over documents, trained on the even ids (`tc`, `den`,
    * `lp`, `lp0`, `pri`) and scoring the odd ones: `sc(doc_id, c,
    * score4)` per class, fixed point 1e-4 (q219, q220, q227).
    */
  val SqlNbScores =
    """tr AS (SELECT doc_id, text, lang FROM documents
                     WHERE doc_id % 2 = 0),
         te AS (SELECT doc_id, text, lang FROM documents
                WHERE doc_id % 2 = 1),
         trtok AS (SELECT lang AS c, unnest(string_split(text, ' ')) AS token
                   FROM tr),
         tc AS (SELECT c, token, count(*) AS ct FROM trtok GROUP BY 1, 2),
         tot AS (SELECT c, count(*) AS tot FROM trtok GROUP BY 1),
         voc AS (SELECT count(DISTINCT token) AS v FROM trtok),
         den AS (SELECT c, tot + v AS den FROM tot CROSS JOIN voc),
         lp AS (SELECT tc.c, tc.token,
             CAST(floor(-ln(CAST(ct + 1 AS DOUBLE) / den) * 1e4 + 0.5)
               AS BIGINT) AS lp4
           FROM tc JOIN den ON tc.c = den.c),
         lp0 AS (SELECT c, CAST(floor(-ln(1.0 / den) * 1e4 + 0.5) AS BIGINT)
                   AS lp0
                 FROM den),
         pri AS (SELECT lang AS c,
             CAST(floor(-ln(CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM tr)) * 1e4 + 0.5) AS BIGINT) AS prior4
           FROM tr GROUP BY 1),
         tetok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                   FROM te),
         ts AS (SELECT tetok.doc_id, lp0.c,
                  CAST(sum(coalesce(lp.lp4, lp0.lp0)) AS BIGINT) AS s4
                FROM tetok CROSS JOIN lp0
                LEFT JOIN lp ON lp.c = lp0.c AND lp.token = tetok.token
                GROUP BY 1, 2),
         sc AS (SELECT te.doc_id, pri.c,
                  pri.prior4 + coalesce(ts.s4, 0) AS score4
                FROM te CROSS JOIN pri
                LEFT JOIN ts ON ts.doc_id = te.doc_id AND ts.c = pri.c)"""

  /** The one-pass column profile (q255, q256) re-derived column by column
    * over `table`, a relation with the documents columns: one row per
    * column of rows, nulls, exact distincts and min/max as text.
    */
  def SqlColumnProfile(table: String) =
    s"""SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM $table
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM $table
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM $table
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM $table
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM $table"""

  /** From the block sums `blk` and totals `nb`: the 64 hash bits, the
    * hashes `hsh(doc_id, h1, h2)`, their hamming ≤ 3 pairs and each
    * hash's partner count — the rows of the image and audio hash
    * queries (q188, q190).
    */
  val SqlHashNearDups =
    """bits AS (
           SELECT blk.doc_id, CAST(b AS BIGINT) AS b,
             CASE WHEN bs * nb.n > nb.tot * bn THEN 1 ELSE 0 END AS bit
           FROM blk JOIN nb ON blk.doc_id = nb.doc_id),
         hsh AS (
           SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3),
         cnt AS (
           SELECT doc_id, count(*) AS nd
           FROM (SELECT id_a AS doc_id FROM prs
                 UNION ALL SELECT id_b FROM prs)
           GROUP BY 1)
         SELECT h.doc_id AS media_id, h1, h2,
           CAST(coalesce(c.nd, 0) AS BIGINT) AS n_neardups
         FROM hsh h LEFT JOIN cnt c ON h.doc_id = c.doc_id
         ORDER BY media_id"""

  /** `d(vec_id, dim, x)`: one row per embedding coordinate, dim 1-based,
    * x as DOUBLE.
    */
  val SqlEmbeddingDims =
    """d AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings)"""

  /** Over `d`: SQ8's per-dim scale `m(dim, mx)` and the codes `c(vec_id,
    * dim, code)`, round(x · 127 / mx) (q206, q207, q208, q211).
    */
  val SqlSq8Codes =
    """m AS (SELECT dim, max(abs(x)) AS mx FROM d GROUP BY dim),
         c AS (
           SELECT vec_id, d.dim,
             CASE WHEN mx > 0 THEN CAST(round(x * 127.0 / mx) AS BIGINT)
                  ELSE 0 END AS code
           FROM d JOIN m ON d.dim = m.dim)"""

  /** JL projection inputs over `d`: `vq` coordinates quantised to 1e-6
    * and `s(dim, j, sgn)`, the md5 sign matrix onto 16 dims (q228, q239).
    */
  val SqlJlSigns =
    """vq AS (SELECT vec_id, dim,
                  CAST(round(x * 1e6) AS BIGINT) AS q
                FROM d),
         s AS (SELECT dim, j,
                 CASE WHEN substring(md5('jl_7_' || (dim - 1) || '_' || j),
                     1, 1) IN ('0','2','4','6','8','a','c','e')
                   THEN 1 ELSE -1 END AS sgn
               FROM (SELECT DISTINCT dim FROM vq)
               CROSS JOIN range(16) r(j))"""

  /** The exact cosine top-10 of vector 0 with the IVF recall verdict
    * pinned TRUE (q50, q186).
    */
  val SqlIvfEnvelope =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS cosine,
           TRUE AS ivf_recall_ok
         FROM embeddings e, q WHERE e.vec_id <> 0
         ORDER BY cosine DESC, e.vec_id LIMIT 10"""

  /** `pair(m, p, q)`: quantity per market segment and part — the
    * evidence of the KG's disease–target associations.
    */
  val SqlKgPairs =
    """pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2)"""

  /** A `pair` row's association score: its share of the part's total
    * quantity, rounded to 6.
    */
  val SqlKgScore =
    """round(q / sum(q) OVER (PARTITION BY p), 6) AS score"""

  /** `pair` → `edges(disease_id, target_id, score)`, the KG association
    * edges (q49, q58, q63, q155, q214, q252; q178 orders the columns its
    * own way).
    */
  val SqlKgEdges =
    s"""$SqlKgPairs,
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             $SqlKgScore
           FROM pair)"""

  /** `main_targets(target_id)`: targets whose best-scoring disease is
    * DIS_BUILDING at score ≥ 0.33 (q58, q63).
    */
  val SqlKgMainTargets =
    """main_targets AS (
           SELECT target_id FROM (
             SELECT *, row_number() OVER
               (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
             FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
           WHERE rn = 1)"""

  /** `pp` → `rk`: each drug's targets ranked by quantity, `rnk` 1 its
    * first target (q61, q62).
    */
  val SqlKgDrugTopTarget =
    """pp AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_suppkey ORDER BY q DESC, l_partkey) AS rnk
           FROM pp)"""

  /** `scope(id, name, entity)`: every disease, target and drug whose name
    * contains an r — the search hits of q232 and q235.
    */
  val SqlKgScope =
    """scope AS (
           SELECT 'DIS_' || c_mktsegment AS id, c_mktsegment AS name,
             'disease' AS entity
           FROM (SELECT DISTINCT c_mktsegment FROM customer)
           WHERE lower(c_mktsegment) LIKE '%r%'
           UNION ALL
           SELECT 'TGT_' || p_partkey, p_name, 'target'
           FROM part WHERE lower(p_name) LIKE '%r%'
           UNION ALL
           SELECT 'DRG_' || s_suppkey, s_name, 'drug'
           FROM supplier WHERE lower(s_name) LIKE '%r%')"""

  /** `kd(drug_id, tgt_id, phase)`: DIS_BUILDING's known drugs with their
    * phase (q164, q229).
    */
  val SqlKgKnownDrugs =
    """kd AS (
           SELECT 'DRG_' || l_suppkey AS drug_id,
             'TGT_' || l_partkey AS tgt_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY 1, 2)"""

  /** Mean of the events' JSON `k` per event type (q17, q42).
    */
  val SqlEventAvgK =
    """SELECT event_type,
         round(avg(CAST(json_extract_string(props,'$.k') AS INT)),4) AS avg_k,
         count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""

  /** The binary two-stage serve replayed (thresholds + bits + Hamming
    * cut + cosine re-rank) — shared by q217 (ad-hoc), q218 (persisted
    * index, spec-pinned bit-identical) and q225 (the streamed code
    * table, bit-identical under the same frozen thresholds).
    */
  val SqlBinaryTwoStage =
    s"""WITH $SqlEmbeddingDims,
         t AS (SELECT dim, (min(x) + max(x)) / 2 AS thr FROM d GROUP BY dim),
         b AS (SELECT vec_id, d.dim,
                 CASE WHEN x > thr THEN 1 ELSE 0 END AS bit
               FROM d JOIN t ON d.dim = t.dim),
         q AS (SELECT dim, bit AS qb FROM b WHERE vec_id = 0),
         h AS (SELECT b.vec_id,
                 CAST(sum(CASE WHEN b.bit <> q.qb THEN 1 ELSE 0 END) AS BIGINT)
                   AS hamming
               FROM b JOIN q ON b.dim = q.dim
               WHERE b.vec_id <> 0
               GROUP BY b.vec_id
               ORDER BY hamming ASC, b.vec_id LIMIT 50),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT h.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(qv.qe AS DOUBLE[])), 6) AS cosine,
           h.hamming
         FROM h JOIN embeddings e ON e.vec_id = h.vec_id CROSS JOIN qv
         ORDER BY cosine DESC, h.vec_id LIMIT 10"""

  /** NB training + inference replayed — shared by q219 (single-pass
    * train) and q227 (the incremental count-generation model, whose
    * summed generations equal the union's counts bit for bit).
    */
  val SqlNbPredict =
    s"""WITH $SqlNbScores,
         best AS (SELECT doc_id, c AS predicted, score4,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY score4 ASC, c ASC) AS rn
                  FROM sc)
         SELECT te.doc_id, te.lang, b.predicted, b.score4,
           te.lang = b.predicted AS correct
         FROM te JOIN best b ON b.doc_id = te.doc_id AND b.rn = 1
         ORDER BY te.doc_id"""

  /** GraphQL knownDrugs fold reconstructed over the raw star schema —
    * shared by q152 (inlined id) and q205 (the same template through
    * a declared variable, which resolves to the identical AST at
    * parse time): rows sort lexicographically on (drug_id, target_id)
    * and the unpaginated query serves the default-sized first page
    * (25 rows, server parity) while n_rows stays the connection total.
    */
  val SqlKnownDrugsFold =
    """WITH kd AS (
         SELECT 'DRG_' || l_suppkey AS drug_id,
           'TGT_' || l_partkey AS tgt_id,
           round(least(4.0, count(*) / 10.0), 1) AS phase
         FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 2),
       r AS (
         SELECT row_number() OVER (ORDER BY drug_id, tgt_id) AS rn,
           phase, drug_id
         FROM kd)
       SELECT 'DIS_BUILDING' AS disease_id, 'BUILDING' AS disease_name,
         (SELECT count(*) FROM kd) AS n_rows,
         CAST(r.rn AS BIGINT) AS rn, r.phase, r.drug_id,
         s.s_name AS drug_name
       FROM r JOIN supplier s ON 'DRG_' || s.s_suppkey = r.drug_id
       WHERE r.rn <= 25
       ORDER BY rn"""

  /** SQ8 top-k replayed bit-exactly (quantization + integer dot) —
    * shared by q197 (the persisted batch index) and q212 (the
    * streamed code table, bit-identical under the same frozen
    * scales).
    */
  val SqlSq8TopK =
    """WITH d AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
         FROM embeddings),
       m AS (SELECT dim, max(abs(x)) AS mx FROM d GROUP BY dim),
       c AS (
         SELECT vec_id, d.dim,
           CASE WHEN mx > 0 THEN CAST(round(x * 127.0 / mx) AS BIGINT)
                ELSE 0 END AS code
         FROM d JOIN m ON d.dim = m.dim),
       q AS (SELECT dim, code AS qc FROM c WHERE vec_id = 0)
       SELECT c.vec_id, CAST(sum(c.code * q.qc) AS BIGINT) AS qscore
       FROM c JOIN q ON c.dim = q.dim
       WHERE c.vec_id <> 0
       GROUP BY c.vec_id
       ORDER BY qscore DESC, c.vec_id LIMIT 10"""

  /** Dialect-common SQL texts: each runs verbatim in Spark AND DuckDB
    * (the oracle), so the string frontend is oracle-checked end to
    * end with zero translation layer.
    */
  val SqlRevenueByNation =
    """SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue,
       count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name
       ORDER BY n_name"""

  val SqlSearchTopK =
    """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
       FROM part WHERE lower(p_name) LIKE '%blue%'
       ORDER BY p_retailprice DESC, p_partkey LIMIT 5"""

  /** Arbitrary grouping sets — NOT a rollup chain: the middle set
    * skips the leading column, so ROLLUP/CUBE can't express it. The
    * text runs verbatim in Spark AND DuckDB (q127's dialect-common
    * discipline).
    */
  val SqlGroupingSets =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         (o_orderpriority), ())
       ORDER BY o_orderstatus ASC NULLS FIRST,
         o_orderpriority ASC NULLS FIRST"""

  val SqlWindowTop2 =
    """SELECT o_custkey, o_orderkey, rk FROM (
         SELECT o_custkey, o_orderkey,
           CAST(rank() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
         FROM orders) t
       WHERE rk <= 2
       ORDER BY o_custkey, rk, o_orderkey"""

  /** Consecutive-id neighbor dot products over the (unit-norm)
    * embeddings; `dotExpr` is the engine's dot product over
    * (a.embedding, b.embedding) — the graft native kernel in Spark,
    * DuckDB's list_dot_product CAST to DOUBLE in the oracle (its
    * FLOAT[] form returns float32, whose round carries float32
    * precision into the compare). `+ 0.0` normalizes -0.0 the same
    * way q123 does.
    */
  def SqlNeighborDot(dotExpr: String) =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round($dotExpr, 3) + 0.0 AS dot
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 50
        ORDER BY id_a"""
}
