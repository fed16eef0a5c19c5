package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** GraphQL-dialect frontend: the reference's ENTIRE user interface is
  * "hand a GraphQL query string to the endpoint, get rows back"
  * (/root/reference/query_opentargets.py:4-16; the query texts live
  * in /root/reference/candidate_drugs.py:19-72 and x2.py). `Graft.sql`
  * covers the string-in/rows-out SHAPE in SQL; this module covers the
  * DIALECT, so a reference user can paste their query text unchanged.
  *
  * Supported grammar (the subset every reference query uses):
  * {{{
  *   [query [Name]] { root(arg: "ID") { selection... } }
  *   selection := name [(args)] [{ selection... }]
  * }}}
  * with `#` comments, commas-as-whitespace, string/number/name
  * argument values, VARIABLES (`query ($id: String!) { ... }` with
  * `execute(kg, q, Map("id" -> ...))` bindings and inline defaults —
  * the form every parameterized Open Targets docs example uses),
  * named FRAGMENTS (`fragment F on Type { ... }` + `...F` spreads,
  * the docs' row-selection factoring — expanded at parse time, so the
  * resolved AST is identical to the inlined query; cycles, unused and
  * duplicate fragments are targeted errors), and response ALIASES
  * (`alias: field` — resolution uses the field name, only the output
  * column renames). Variables likewise substitute at parse time, so
  * execution is byte-identical to the inlined query. DIRECTIVES
  * `@skip(if:)` / `@include(if:)` — the two spec-defined executable
  * directives — resolve at parse time too (literal or variable
  * condition), on fields and on fragment spreads: the resolved AST is
  * identical to the query with excluded fields deleted. The
  * `__typename` meta-field resolves at EVERY selection level to the
  * reference schema's type names — the field Apollo-generation
  * clients inject into every query, so generated clients work
  * unchanged. INLINE FRAGMENTS (`... on Type { sel }`) select the
  * arms of the one union the schema exposes — `SearchResult.object:
  * EntityUnionType = Target | Drug | Disease` (opentargets.schema:
  * 502,1290) — resolved as the union tag + one nullable struct per
  * arm (SURVEY §1.2's encoding); a stray inline fragment anywhere
  * else, or an unknown type condition, is a targeted error. The
  * `facets` root (the schema's remaining search feature) serves
  * facet hits + per-category counts over the search hit relation.
  * Unknown directives, non-boolean conditions and multiple
  * operations are rejected with a targeted error.
  *
  * Schema = the [[KnowledgeGraph]] views (disease / target / drug
  * entities, scored association edges, known-drug fact rows,
  * pathways — SURVEY.md §1.1 / §7.1): roots `disease(efoId:)`,
  * `target(ensemblId:)`, `drug(chemblId:)`; connections follow the
  * reference schema's `{ count rows { ... } }` shape
  * (opentargets.schema:263-265, 855-932) except `pathways`, which is
  * a bare list (opentargets.schema:1202-1206, the
  * query_opentargets.py example).
  *
  * Execution is Spark-first and point-lookup shaped: the root entity
  * is one filtered scan; each selected connection FILTERS its edge
  * relation by the root key BEFORE aggregating (partition-prunable at
  * scale, and empty connections yield count=0/rows=[] without an
  * outer-join null dance), collects its rows into a deterministically
  * sorted array (score desc / rank asc / key asc — the server's
  * documented default orderings), and broadcast-joins the 1-row
  * result back. Output is ONE row per root with nested columns in
  * selection order — the GraphQL `data` object as a Spark schema.
  *
  * Paginated connections (a [[Conn]] with `paged`) are never
  * unbounded: an omitted `page` serves a [[DefaultPageSize]]-row first
  * page (server parity — `count` stays the total), and the requested
  * page is rank-limited BEFORE the array fold (TakeOrderedAndProject,
  * the q43 discipline), so a hub entity's crawl-scale edge list costs
  * a top-k merge, not a single-reducer collect.
  *
  * The executor is one type table and a few resolver steps. [[Types]]
  * (with the [[Entity]] records and the [[Conns]] connection table)
  * writes each object type's fields once — field name → column, or a
  * scalar or object its site resolves — and root lookups, batch
  * roots, joined sub-entities, union arms and `__type` introspection
  * all read it. Every resolver goes through the same steps:
  * [[selection]] turns one selection into columns (`__typename`,
  * unknown fields, scalars given a sub-selection); [[fold]] is the
  * sorted `collect_list` every list resolves through; [[page]] parses
  * and applies pagination; [[onlyArgs]] and [[idList]] check argument
  * lists and id batches; [[assemble]] cross-joins the 1-row sides of a
  * selection and projects it.
  */
object GraphQl {

  /** One parsed field: name, arguments, nested selection, and the
    * optional response alias (`alias: field` — resolution always uses
    * `name`; only the OUTPUT column is renamed, [[out]]).
    */
  final case class Field(name: String, args: Map[String, String],
                         sel: Seq[Field], alias: Option[String] = None) {
    /** The response key: the alias when present, else the field name. */
    def out: String = alias.getOrElse(name)
  }

  final case class ParseError(msg: String)
    extends IllegalArgumentException(s"graphql: $msg")

  // ------------------------------------------------------------------
  // Lexer + recursive-descent parser
  // ------------------------------------------------------------------

  private sealed trait Tok
  private final case class Name(s: String) extends Tok
  private final case class Str(s: String) extends Tok
  private final case class Num(s: String) extends Tok
  private final case class Punct(c: Char) extends Tok
  private final case class Var(s: String) extends Tok
  private case object Spread extends Tok

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace || c == ',') i += 1
      else if (c == '#') { while (i < q.length && q(i) != '\n') i += 1 }
      else if ("{}():[]!=@".contains(c)) { out += Punct(c); i += 1 }
      else if (c == '"') {
        val sb = new StringBuilder; i += 1
        while (i < q.length && q(i) != '"') {
          if (q(i) == '\\' && i + 1 < q.length) { sb += q(i + 1); i += 2 }
          else { sb += q(i); i += 1 }
        }
        if (i >= q.length) throw ParseError("unterminated string literal")
        i += 1; out += Str(sb.result())
      }
      else if (c.isLetter || c == '_') {
        val j = i
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        out += Name(q.substring(j, i))
      }
      else if (c.isDigit || c == '-') {
        val j = i; i += 1
        while (i < q.length && (q(i).isDigit || q(i) == '.')) i += 1
        out += Num(q.substring(j, i))
      }
      else if (c == '$') {
        i += 1
        val j = i
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        if (i == j) throw ParseError("'$' must be followed by a variable name")
        out += Var(q.substring(j, i))
      }
      else if (c == '.') {
        if (i + 2 < q.length && q(i + 1) == '.' && q(i + 2) == '.') {
          out += Spread; i += 3
        } else throw ParseError(
          s"unexpected '.' — fragment spreads are written '...'")
      }
      else throw ParseError(s"unexpected character '$c'")
    }
    out.result()
  }

  /** Parse a document to its single root field. */
  def parse(q: String): Field = parse(q, Map.empty)

  /** Parse with variable bindings (the `query ($id: String!)` form in
    * the Open Targets docs): declared variables resolve from
    * `variables`, falling back to an inline default (`= "EFO_X"`).
    * Using an undeclared variable, or declaring one with neither a
    * binding nor a default, is a targeted error. Values substitute at
    * parse time, so execution is byte-identical to the inlined form
    * (GraphQlSpec pins q152's variable form hash-equal).
    */
  def parse(q: String, variables: Map[String, String]): Field = {
    val toks = lex(q)
    var p = 0
    // declared name -> default (None = no default)
    var declared = Map.empty[String, Option[String]]
    def resolveVar(v: String): String = declared.get(v) match {
      case None => throw ParseError(
        s"variable $$$v is not declared in the operation header")
      case Some(dflt) => variables.get(v).orElse(dflt).getOrElse(
        throw ParseError(s"no value provided for variable $$$v " +
          "(and it has no default)"))
    }
    def peek: Option[Tok] = if (p < toks.length) Some(toks(p)) else None
    def next(): Tok = {
      if (p >= toks.length) throw ParseError("unexpected end of query")
      p += 1; toks(p - 1)
    }
    def expect(c: Char): Unit = next() match {
      case Punct(`c`) => ()
      case t => throw ParseError(s"expected '$c', found $t")
    }
    // `($x: Type! = default, $y: [String!]! ...)` after `query [Name]`
    def parseVarDefs(): Unit = {
      expect('(')
      var done = false
      while (!done) next() match {
        case Punct(')') => done = true
        case Var(v) =>
          expect(':')
          // consume the type loosely: names, [, ], ! — the engine is
          // dynamically typed downstream, the declaration is contract
          var inType = true
          while (inType) peek match {
            case Some(Name(_)) | Some(Punct('[')) | Some(Punct(']')) |
                 Some(Punct('!')) => next()
            case _ => inType = false
          }
          val dflt = peek match {
            case Some(Punct('=')) =>
              next()
              next() match {
                case Str(s) => Some(s)
                case Num(s) => Some(s)
                case Name(s) => Some(s)
                case t => throw ParseError(s"bad default value $t for $$$v")
              }
            case _ => None
          }
          if (declared.contains(v)) throw ParseError(
            s"variable $$$v is declared twice in the operation header")
          declared += v -> dflt
        case t => throw ParseError(s"bad variable definition at $t")
      }
    }
    def parseArgs(): Map[String, String] = peek match {
      case Some(Punct('(')) =>
        expect('(')
        val args = Map.newBuilder[String, String]
        var done = false
        while (!done) peek match {
          case Some(Punct(')')) => next(); done = true
          case Some(Name(k)) =>
            next(); expect(':')
            next() match {
              case Str(v) => args += k -> v
              case Num(v) => args += k -> v
              case Name(v) => args += k -> v // enum value
              case Var(v) => args += k -> resolveVar(v)
              case Punct('[') =>
                // list value (entityNames: ["disease"]) — stored
                // NUL-joined (ListSep): unlike a comma, NUL cannot
                // appear in a free-text item (mapIds queryTerms like
                // "46,XX disorder" must survive the round trip)
                val items = Seq.newBuilder[String]
                var closed = false
                while (!closed) next() match {
                  case Punct(']') => closed = true
                  case Str(v) => items += v
                  case Name(v) => items += v
                  case Var(v) => items += resolveVar(v)
                  case t => throw ParseError(s"bad list item $t for '$k'")
                }
                args += k -> items.result().mkString(ListSep)
              case Punct('{') =>
                // object value (page: {index: 0, size: 25} — the
                // schema's Pagination input, opentargets.schema:
                // 1047-1050) — flattened into dotted arg keys;
                // member values are scalars
                var closed = false
                while (!closed) next() match {
                  case Punct('}') => closed = true
                  case Name(sub) =>
                    expect(':')
                    next() match {
                      case Str(v) => args += s"$k.$sub" -> v
                      case Num(v) => args += s"$k.$sub" -> v
                      case Name(v) => args += s"$k.$sub" -> v
                      case Var(v) => args += s"$k.$sub" -> resolveVar(v)
                      case t => throw ParseError(s"bad value $t for '$k.$sub'")
                    }
                  case t => throw ParseError(s"bad object member $t in '$k'")
                }
              case t => throw ParseError(s"bad argument value $t for '$k'")
            }
          case t => throw ParseError(s"bad argument list at $t")
        }
        args.result()
      case _ => Map.empty
    }
    // `@skip(if: Bool)` / `@include(if: Bool)` after a field's args or
    // a fragment spread's name — the two spec-defined executable
    // directives (the only ones Open Targets docs queries use).
    // Conditions resolve at PARSE time (literals or bound variables —
    // the q205 discipline), so the resolved AST is identical to the
    // query with the excluded fields deleted; returns whether the
    // carrying field survives. Unknown directives and malformed
    // conditions are targeted errors, not silent no-ops.
    def parseDirectives(): Boolean = {
      var keep = true
      var more = true
      while (more) peek match {
        case Some(Punct('@')) =>
          next()
          val dname = next() match {
            case Name(n) => n
            case t => throw ParseError(
              s"'@' must be followed by a directive name, found $t")
          }
          if (dname != "skip" && dname != "include") throw ParseError(
            s"unsupported directive @$dname — only @skip and @include " +
              "are supported")
          val dargs = parseArgs()
          if (dargs.keySet != Set("if")) throw ParseError(
            s"@$dname takes exactly the 'if' argument, got " +
              s"(${dargs.keys.toSeq.sorted.mkString(", ")})")
          val b = dargs("if") match {
            case "true" => true
            case "false" => false
            case other => throw ParseError(
              s"@$dname(if:) must be a Boolean, got '$other'")
          }
          keep = keep && (if (dname == "skip") !b else b)
        case _ => more = false
      }
      keep
    }
    def parseSelection(): Seq[Field] = {
      expect('{')
      val fields = Seq.newBuilder[Field]
      var done = false
      while (!done) peek match {
        case Some(Punct('}')) => next(); done = true
        case Some(Spread) =>
          // named-fragment spread — held as a marker field until the
          // whole document's fragments are parsed, then expanded —
          // or an INLINE fragment (`... on Type { sel }`), held as a
          // type-condition arm the union resolver discriminates on
          next()
          next() match {
            case Name("on") =>
              val tpe = next() match {
                case Name(t) => t
                case t => throw ParseError(
                  s"'... on' needs a type name, found $t")
              }
              val keep = parseDirectives()
              val sel = peek match {
                case Some(Punct('{')) => parseSelection()
                case _ => throw ParseError(
                  s"inline fragment '... on $tpe' needs a selection")
              }
              if (sel.isEmpty) throw ParseError(
                s"inline fragment '... on $tpe' needs a selection")
              if (keep) fields += Field(InlineMark + tpe, Map.empty,
                sel, Some(tpe))
              else fields ++= spreadSkipMarks(sel)
            case Name(fr) =>
              // a directive-skipped spread still REFERENCES its
              // fragment: it contributes no fields, but it keeps a
              // bookkeeping marker so REACHABLE usage and cycles are
              // still tracked (a skipped spread inside an unreachable
              // fragment must not mask the unused-fragment check)
              val mark = if (parseDirectives()) SpreadMark else SkipSpreadMark
              fields += Field(mark + fr, Map.empty, Nil)
            case t => throw ParseError(s"bad fragment spread at $t")
          }
        case Some(Name(n)) =>
          next()
          // response alias: `alias: field` — resolution uses the real
          // field name; only the output column is renamed
          val (alias, name) = peek match {
            case Some(Punct(':')) =>
              next()
              next() match {
                case Name(real) => (Some(n), real)
                case t => throw ParseError(
                  s"alias '$n:' must be followed by a field name, found $t")
              }
            case _ => (None, n)
          }
          val args = parseArgs()
          val keep = parseDirectives()
          val sel = peek match {
            case Some(Punct('{')) => parseSelection()
            case _ => Seq.empty
          }
          if (keep) fields += Field(name, args, sel, alias)
          // a directive-excluded field still REFERENCES the fragments
          // its sub-selection spreads (`foo @skip(if: true) { ...f }`
          // is spec-valid): retain those spreads as skip-marks so the
          // unused-fragment and cycle checks see them — the same
          // bookkeeping a skipped spread itself keeps
          else fields ++= spreadSkipMarks(sel)
        case t => throw ParseError(s"expected a field name, found $t")
      }
      fields.result()
    }
    // document = one operation (optionally `query [Name] [varDefs]`)
    // plus any number of `fragment Name on Type { sel }` definitions,
    // in any order. Variables inside a fragment resolve against the
    // operation's declarations, so a fragment USING variables must
    // appear after the operation header (parse-time substitution —
    // the q205 discipline).
    var rootsOpt: Option[Seq[Field]] = None
    var frags = Map.empty[String, Seq[Field]]
    def requireSingleOp(): Unit = if (rootsOpt.nonEmpty) throw ParseError(
      "exactly one operation is supported")
    while (p < toks.length) peek match {
      case Some(Name("mutation")) =>
        throw ParseError("mutations are not supported (read-only engine)")
      case Some(Name("fragment")) =>
        next()
        val fname = next() match {
          case Name(n) if n != "on" => n
          case t => throw ParseError(s"fragment needs a name, found $t")
        }
        next() match {
          case Name("on") => ()
          case t => throw ParseError(
            s"fragment '$fname' needs 'on <Type>', found $t")
        }
        next() match {
          // the type condition is recorded-and-unchecked: the engine
          // is dynamically typed downstream (field resolution errors
          // are targeted per entity), the declaration is contract
          case Name(_) => ()
          case t => throw ParseError(
            s"fragment '$fname' needs a type name after 'on', found $t")
        }
        if (frags.contains(fname)) throw ParseError(
          s"fragment '$fname' is defined twice")
        frags += fname -> parseSelection()
      case Some(Name("query")) =>
        requireSingleOp()
        next()
        peek match {
          case Some(Name(n)) if n != "fragment" => next(); ()
          case _ => ()
        }
        peek match { case Some(Punct('(')) => parseVarDefs() case _ => () }
        rootsOpt = Some(parseSelection())
      case Some(Punct('{')) =>
        requireSingleOp()
        rootsOpt = Some(parseSelection())
      case Some(t) =>
        throw ParseError(s"unexpected $t at document level")
      case None => ()
    }
    // every supplied binding must be declared — a typo'd binding key
    // silently falling back to a default is the quiet failure this
    // parser otherwise never allows
    val undeclared = variables.keySet.diff(declared.keySet)
    if (undeclared.nonEmpty) throw ParseError(
      s"bindings for undeclared variable(s): " +
        undeclared.toSeq.sorted.map("$" + _).mkString(", "))
    // expand fragment spreads: the resolved AST is identical to the
    // inlined query (GraphQlSpec pins the round-trip; q215 carries an
    // existing template's oracle through a fragment verbatim)
    val used = scala.collection.mutable.Set.empty[String]
    def visit(fr: String, stack: List[String], emit: Boolean): Seq[Field] = {
      val body = frags.getOrElse(fr, throw ParseError(
        s"fragment '$fr' is not defined"))
      if (stack.contains(fr)) throw ParseError(
        s"fragment cycle: ${(fr :: stack).reverse.mkString(" -> ")}")
      used += fr
      val out = expand(body, fr :: stack)
      if (emit) out else Seq.empty
    }
    def expand(sel: Seq[Field], stack: List[String]): Seq[Field] =
      sel.flatMap { f =>
        if (f.name.startsWith(SkipSpreadMark))
          // directive-skipped: walk for usage/cycle bookkeeping,
          // contribute nothing
          visit(f.name.stripPrefix(SkipSpreadMark), stack, emit = false)
        else if (f.name.startsWith(SpreadMark))
          visit(f.name.stripPrefix(SpreadMark), stack, emit = true)
        else Seq(f.copy(sel = expand(f.sel, stack)))
      }
    def noDuplicates(sel: Seq[Field], path: String): Unit = {
      // GraphQL merges duplicate selections of one response key; this
      // dialect does not implement selection merging, and silently
      // keeping the FIRST (the rows/hits collectFirst sites) would
      // drop data — so duplicates (now reachable via fragment
      // spreads) are a targeted error instead
      val dup = sel.groupBy(_.out).collect { case (k, fs) if fs.size > 1 => k }
      if (dup.nonEmpty) throw ParseError(
        s"duplicate selection${if (dup.size > 1) "s" else ""} " +
          s"${dup.toSeq.sorted.mkString(", ")} at $path — selection " +
          "merging is not supported; combine the fields into one " +
          "selection (or alias one of them)")
      sel.foreach(f => noDuplicates(f.sel, s"$path.${f.name}"))
    }
    val roots = expand(rootsOpt.getOrElse(throw ParseError(
      "the document has no operation — nothing to execute")), Nil)
    val unused = frags.keySet.diff(used)
    if (unused.nonEmpty) throw ParseError(
      s"unused fragment(s): ${unused.toSeq.sorted.mkString(", ")}")
    roots match {
      case Seq(one) =>
        noDuplicates(Seq(one), "query")
        one
      case Seq() => throw ParseError(
        "the operation has no root field (its selection is empty, or " +
          "its only root field was excluded by a directive) — nothing " +
          "to execute")
      case many => throw ParseError(
        s"exactly one root field is supported, found ${many.map(_.name).mkString(", ")}")
    }
  }

  /** Marker prefix for unexpanded fragment spreads inside a parsed
    * selection (NUL-prefixed — can never collide with a field name).
    */
  private val SpreadMark: String = "\u0000..."

  /** Separator for parsed LIST argument values (entityNames, batch
    * ids, queryTerms): NUL — the one character no free-text item can
    * carry (a comma-joined encoding silently split "46,XX disorder"
    * into two mapIds terms).
    */
  private val ListSep: String = SpreadMark.take(1)

  /** A parsed list argument back to its items (limit −1: a TRAILING
    * empty item must survive the split so the empty-term guards can
    * reject it loudly instead of it silently vanishing).
    */
  private def splitList(joined: String): Seq[String] =
    joined.split(java.util.regex.Pattern.quote(ListSep), -1).toSeq

  /** Marker prefix for an inline-fragment arm (`... on Type`): the
    * field's name is `InlineMark + Type`, its alias the bare type
    * name (so the response column is the type). Arms survive
    * fragment expansion as ordinary fields; only the union resolver
    * (search hits' `object`) accepts them — anywhere else
    * [[checkInline]] rejects them with a targeted error.
    */
  private val InlineMark: String = SpreadMark.take(1) + "on:"

  /** The fragment spreads inside an excluded selection, as skip-marks
    * — usage/cycle bookkeeping for fields and inline fragments
    * removed by a directive.
    */
  private def spreadSkipMarks(s: Seq[Field]): Seq[Field] = s.flatMap { g =>
    if (g.name.startsWith(SkipSpreadMark)) Seq(g)
    else if (g.name.startsWith(SpreadMark))
      Seq(Field(SkipSpreadMark + g.name.stripPrefix(SpreadMark),
        Map.empty, Nil))
    else spreadSkipMarks(g.sel)
  }

  /** Inline fragments are valid ONLY under the union-typed `object`
    * field of search hits — a stray `... on Type` anywhere else is a
    * targeted error (this dialect's selections are concrete-typed
    * everywhere else, so a type-refinement arm is meaningless there).
    */
  private def checkInline(f: Field, underUnion: Boolean): Unit =
    f.sel.foreach { g =>
      if (g.name.startsWith(InlineMark)) {
        if (!underUnion) throw ParseError(
          s"inline fragments are supported only on the union-typed " +
            s"'object' fields (search/mapIds hits, similarEntities " +
            s"rows) — found '... on ${g.out}' under '${f.name}'")
        checkInline(g, underUnion = false)
      } else checkInline(g, underUnion = g.name == "object")
    }

  /** Marker for a directive-SKIPPED spread: expanded for
    * usage/cycle bookkeeping only, contributing no fields.
    */
  private val SkipSpreadMark: String = "\u0000xxx"

  // ------------------------------------------------------------------
  // Executor: the type table
  // ------------------------------------------------------------------

  /** How a field of an object type resolves: a scalar read from a
    * column, a scalar its site computes, or an object built from the
    * field's own selection — of the table type `tpe` when that type is
    * all columns, which [[selection]] then nests by default.
    */
  private sealed abstract class Kind(val isObject: Boolean)
  private final case class Col(name: String) extends Kind(false)
  private case object Calc extends Kind(false)
  private final case class Obj(tpe: String = "") extends Kind(true)

  /** An object type: its schema name and its fields, in the order
    * every "supported:" list prints them.
    */
  private final case class Type(name: String, fields: Seq[(String, Kind)])

  private def cols(names: String*): Seq[(String, Kind)] = names.map(n => n -> Col(n))

  /** An entity of the knowledge graph — one arm of the schema's
    * `EntityUnionType` (opentargets.schema:502). `key` is the resolver
    * key and the `<key>_id` edge column; `arg` the root argument (the
    * batch root and its argument add an `s`); `scalars` the scalar
    * fields with the SQL type a union arm's typed NULL takes; `label`
    * the scalar a search matches as the display `name`; `scan` the
    * relation a lookup reads, `lite` the cheaper one a search reads
    * when no union arm reads past id and name.
    */
  private final case class Entity(key: String, name: String, arg: String,
                                  scalars: Seq[(String, String)], label: String,
                                  conns: Seq[String],
                                  scan: KnowledgeGraph => DataFrame,
                                  lite: KnowledgeGraph => DataFrame) {
    val scalarType: Type = Type(name, cols(scalars.map(_._1): _*))
    val tpe: Type = Type(name, scalarType.fields ++ conns.map(_ -> Obj()))
    /** The scalars a union arm reads beyond id and the display name. */
    def extras: Seq[(String, String)] =
      scalars.filterNot(s => s._1 == "id" || s._1 == label)
  }

  private val Disease = Entity("disease", "Disease", "efoId",
    Seq("id" -> "string", "name" -> "string"), "name",
    Seq("knownDrugs", "associatedTargets", "phenotypes", "evidences"),
    _.diseases, _.diseases)
  private val Target = Entity("target", "Target", "ensemblId",
    Seq("id" -> "string", "approvedSymbol" -> "string", "bioType" -> "string"),
    "approvedSymbol",
    Seq("knownDrugs", "associatedDiseases", "pathways", "tractability",
      "similarEntities"),
    _.targets, _.targets)
  private val Drug = Entity("drug", "Drug", "chemblId",
    Seq("id" -> "string", "name" -> "string", "drugType" -> "string",
      "isApproved" -> "boolean", "synonyms" -> "array<string>",
      "maximumClinicalTrialPhase" -> "double"), "name",
    Seq("linkedTargets", "mechanismsOfAction"),
    _.drugDetails, _.drugs)
  private val Entities: Seq[Entity] = Seq(Disease, Target, Drug)

  private def entity(key: String): Option[Entity] = Entities.find(_.key == key)

  /** Every object type of the dialect but the connection rows (one
    * per connection, in [[Conns]]) and introspection's own types —
    * type names are the reference schema's (`type Disease`
    * opentargets.schema:150, `Target`:1348, `Drug`:347, `Pathway`:1053,
    * `SearchResult`:1276, `KnownDrugs`:916, `AssociatedTargets`:62,
    * `AssociatedDiseases`:44, `LinkedTargets`:958).
    */
  private val Types: Map[String, Type] = (Entities.map(_.tpe) ++
    Seq("KnownDrugs", "AssociatedTargets", "AssociatedDiseases",
      "LinkedTargets", "DiseaseHPOs", "Evidences")
      .map(Type(_, Seq("count" -> Calc, "rows" -> Obj()))) ++ Seq(
    Type("Pathway", Seq("id" -> Col("pathwayId"), "name" -> Col("pathway"))),
    Type("HPO", Seq("id" -> Col("hpo_id"), "name" -> Col("hpo_name"),
      "description" -> Col("hpo_desc"), "namespace" -> Col("namespace"))),
    Type("Tractability", cols("label", "modality", "value")),
    Type("GeneOntologyTerm", cols("id", "name")),
    Type("Evidence", cols("id", "score") ++
      Seq("target" -> Obj(), "disease" -> Obj())),
    Type("Similarity", Seq("id" -> Col("__sim_id"), "category" -> Calc,
      "score" -> Col("cosine"), "object" -> Obj())),
    Type("MechanismsOfAction", Seq("rows" -> Obj(),
      "uniqueActionTypes" -> Calc, "uniqueTargetTypes" -> Calc)),
    Type("MechanismOfActionRow",
      cols("mechanismOfAction", "actionType") :+ ("targets" -> Obj())),
    Type("SearchResults",
      Seq("total" -> Calc, "hits" -> Obj(), "aggregations" -> Obj())),
    Type("SearchResult", cols("id", "name", "entity") :+ ("object" -> Obj())),
    Type("SearchResultAggs", Seq("total" -> Calc, "entities" -> Obj())),
    Type("SearchResultAggEntity", Seq("name" -> Col("entity"),
      "total" -> Col("__n"), "categories" -> Obj())),
    Type("SearchResultAggCategory",
      Seq("name" -> Col("entity"), "total" -> Col("__n"))),
    Type("SearchFacetsResults",
      Seq("total" -> Calc, "hits" -> Obj(), "categories" -> Obj())),
    Type("SearchFacetsResult", Seq("id" -> Col("id"), "label" -> Col("name"),
      "category" -> Col("entity"))),
    Type("SearchFacetsCategory",
      Seq("name" -> Col("entity"), "total" -> Col("n"))),
    Type("MappingResults",
      Seq("total" -> Calc, "mappings" -> Obj(), "aggregations" -> Obj())),
    Type("MappingResult", Seq("term" -> Col("__term"), "hits" -> Obj())),
    Type("Meta", Seq("name" -> Col("name"), "apiVersion" -> Obj("APIVersion"),
      "dataVersion" -> Obj("DataVersion"))),
    Type("APIVersion", cols("x", "y", "z")),
    Type("DataVersion", cols("year", "month", "iteration")),
    Type("EvidenceSource", cols("datasource", "datatype")),
    Type("InteractionResources", cols("databaseVersion", "sourceDatabase"))))
    .map(t => t.name -> t).toMap

  /** One flat connection: its edge relation, filtered on `rootCol`;
    * the ascending sort keys of its row order (the server's documented
    * defaults: score desc / rank asc / key asc); whether it takes the
    * schema's `page: Pagination` argument — knownDrugs
    * (opentargets.schema:243-246, 429-432, 1475-1478),
    * disease.associatedTargets (:248-268), target.associatedDiseases
    * (:1480-1483) and phenotypes (:224-228), while linkedTargets (:447)
    * and pathways (:1202) are bare per-entity-bounded lists there —
    * and the score arguments; its wrapper type (None: a bare list) and
    * row type. A row field named after an entity key is that entity.
    */
  private final case class Conn(edges: KnowledgeGraph => DataFrame,
                                rootCol: String, sortKeys: Seq[Column],
                                paged: Boolean, scored: Boolean,
                                wrapper: Option[String], row: Type)

  private val Conns: Map[(String, String), Conn] = Map(
    ("disease", "knownDrugs") -> Conn(_.knownDrugs, "disease_id",
      Seq(col("drug_id"), col("target_id")), paged = true, scored = false,
      Some("KnownDrugs"), Type("KnownDrug",
        cols("phase") ++ Seq("target" -> Obj(), "drug" -> Obj()))),
    ("target", "knownDrugs") -> Conn(_.knownDrugs, "target_id",
      Seq(col("drug_id"), col("disease_id")), paged = true, scored = false,
      Some("KnownDrugs"), Type("KnownDrug",
        cols("phase") ++ Seq("disease" -> Obj(), "drug" -> Obj()))),
    ("disease", "associatedTargets") -> Conn(_.associatedTargets,
      "disease_id", Seq(negate(col("score")), col("target_id")),
      paged = true, scored = true, Some("AssociatedTargets"),
      Type("AssociatedTarget", cols("score") :+ ("target" -> Obj()))),
    ("target", "associatedDiseases") -> Conn(_.associatedDiseases,
      "target_id", Seq(negate(col("score")), col("disease_id")),
      paged = true, scored = true, Some("AssociatedDiseases"),
      Type("AssociatedDisease", cols("score") :+ ("disease" -> Obj()))),
    // `LinkedTarget` is this dialect's name for its {rank, target} row
    // (the schema's rows are bare targets; rank is the dialect's)
    ("drug", "linkedTargets") -> Conn(_.linkedTargets, "drug_id",
      Seq(col("rank")), paged = false, scored = false, Some("LinkedTargets"),
      Type("LinkedTarget", cols("rank") :+ ("target" -> Obj()))),
    ("target", "pathways") -> Conn(_.pathways, "target_id",
      Seq(col("pathwayId")), paged = false, scored = false, None,
      Type("ReactomePathway",
        ("pathway" -> Obj("Pathway")) +: cols("topLevelTerm"))),
    // bare [Tractability!]! (opentargets.schema:1416, 1546-1550) —
    // per-entity-bounded (4 rows), deterministic modality order
    ("target", "tractability") -> Conn(_.tractability, "target_id",
      Seq(col("modality")), paged = false, scored = false, None,
      Types("Tractability")),
    // DiseaseHPOs {count, rows: [DiseaseHPO]} — rows carry the
    // phenotypeHPO entity (:283-285, HPO :727-739)
    ("disease", "phenotypes") -> Conn(_.phenotypes, "disease_id",
      Seq(col("hpo_id")), paged = true, scored = false, Some("DiseaseHPOs"),
      Type("DiseaseHPO", Seq("phenotypeHPO" -> Obj("HPO")))))

  // ------------------------------------------------------------------
  // Executor: the resolver steps
  // ------------------------------------------------------------------

  private def noSubSel(f: Field): Unit =
    if (f.sel.nonEmpty) throw ParseError(
      "'__typename' is a meta-field — drop its selection")

  /** Resolve one selection against type `t`, in selection order, each
    * column named by its response key: `__typename` is the type name;
    * an unknown field names the site and the supported fields; a
    * scalar takes no sub-selection. `resolve` builds the fields the
    * site computes; any other scalar reads its column, an object of a
    * plain table type nests, and the rest read the side named by their
    * response key (the 1-row sides [[assemble]] joins).
    */
  private def selection(site: String, t: Type, sel: Seq[Field])(
      resolve: PartialFunction[Field, Column] = PartialFunction.empty)
      : Seq[Column] = {
    if (sel.isEmpty) throw ParseError(s"'$site' needs a selection")
    sel.map { f =>
      (if (f.name == "__typename") { noSubSel(f); lit(t.name) }
       else {
         val kind = t.fields.collectFirst { case (n, k) if n == f.name => k }
           .getOrElse(throw ParseError(
             s"unknown ${if (t.name.startsWith("__")) "introspection " else ""}" +
               s"field '${f.name}' on $site — supported: " +
               t.fields.map(_._1).mkString(", ")))
         if (!kind.isObject && f.sel.nonEmpty) throw ParseError(
           s"'$site.${f.name}' is a scalar — drop its selection")
         resolve.applyOrElse(f, (g: Field) => kind match {
           case Col(c) => col(c)
           case Obj(tpe) if tpe.nonEmpty =>
             struct(selection(g.name, Types(tpe), g.sel)(): _*)
           case _ => col(g.out)
         })
       }).as(f.out)
    }
  }

  /** The sorted-array fold every list resolves through: sort keys ride
    * in front of the payload for sort_array, `cut` takes the requested
    * page, and the keys drop away — deterministic order from one
    * aggregation. Rows where `keep` is false are left out.
    */
  private def fold(keys: Seq[Column], payload: Column,
                   cut: Column => Column = identity,
                   keep: Option[Column] = None): Column = {
    val keyed = struct(keys.zipWithIndex.map { case (k, i) => k.as(s"__k$i") } :+
      payload.as("__p"): _*)
    transform(cut(sort_array(collect_list(keep.fold(keyed)(when(_, keyed))))),
      x => x.getField("__p"))
  }

  /** The 1-row sides of one selection (one per response key — each
    * alias its own payload, never first-wins), broadcast cross-joined
    * into one row — a constant row when nothing aggregates — and
    * projected to `out`. A `__typename` literal therefore lands AFTER
    * the aggregates: inside one it would be NULL over zero matches.
    */
  private def assemble(sides: Seq[DataFrame], spark: => SparkSession)(
      out: Column*): DataFrame =
    (if (sides.isEmpty) spark.range(1).toDF()
     else sides.reduce((a, b) => a.crossJoin(broadcast(b)))).select(out: _*)

  /** Server-parity default page size for paginated connections: the
    * endpoint never returns an unbounded connection — an omitted
    * `page` serves the FIRST page while `count` stays the connection
    * total. Doubles as the engine's scale guard: a hub entity's
    * crawl-sized edge list is never collected into one aggregation
    * buffer by an unpaginated query.
    */
  val DefaultPageSize: Int = 25

  /** Clamp for an explicit `size` — the engine-side cap that keeps a
    * single requested page (and its aggregation buffer) bounded.
    */
  val MaxPageSize: Int = 3000

  private def intArg(args: Map[String, String], key: String): Option[Int] =
    args.get(key).map { s =>
      val n = s.toIntOption.getOrElse(
        throw ParseError(s"$key must be an integer, got '$s'"))
      if (n < 0) throw ParseError(s"$key must be >= 0, got $n")
      n
    }

  /** A number argument in [0, 1] (a score threshold). */
  private def unitArg(key: String, s: String): Double = {
    val v = s.toDoubleOption.getOrElse(throw ParseError(
      s"$key must be a number, got '$s'"))
    if (v < 0.0 || v > 1.0) throw ParseError(
      s"$key must be in [0, 1], got $v")
    v
  }

  /** One requested page; `size` None serves every row. */
  private final case class Page(index: Int, size: Option[Int]) {
    /** An omitted size is the [[DefaultPageSize]]-row first page. */
    def orDefault: Page = copy(size = size.orElse(Some(DefaultPageSize)))

    /** Rank-limit to the rows the page reaches, BEFORE the fold: sort
      * + limit (index+1)·size plans as TakeOrderedAndProject —
      * per-partition top-k, then a merge of only k·partitions rows —
      * so a hub key's edge list never lands in one reducer's
      * collect_list buffer.
      */
    def limit(df: DataFrame, keys: Seq[Column]): DataFrame =
      size.fold(df)(n => df.sort(keys: _*).limit(clamp((index + 1).toLong * n)))

    /** The page of the folded, sorted array. */
    def cut(arr: Column): Column =
      size.fold(arr)(n => slice(arr, clamp(index.toLong * n + 1L), n))
  }

  /** Long math then a clamp: index·size+1 can overflow Int, and a
    * negative start would make slice() count from the END of the
    * array — the wrong rows instead of the correct empty page. Spark
    * arrays hold < Int.MaxValue elements, so a clamped start is always
    * past the end.
    */
  private def clamp(n: Long): Int = math.min(n, Int.MaxValue.toLong).toInt

  /** The schema's pagination argument — `page: {index, size}`
    * (opentargets.schema:1047-1050, index = 0-based page number) or the
    * bare `size` shorthand — clamped to [[MaxPageSize]].
    */
  private def page(args: Map[String, String]): Page = {
    val size = intArg(args, "page.size").orElse(intArg(args, "size"))
    val index = intArg(args, "page.index").getOrElse(0)
    if (index > 0 && size.isEmpty) throw ParseError(
      "page.index needs page.size")
    Page(index, size.map(math.min(_, MaxPageSize)))
  }

  /** Schema parity on the argument list: an unknown (or typo'd)
    * argument is a loud error — `scoreThreshhold:` silently serving the
    * unfiltered connection is the quiet failure the parser's
    * undeclared-binding check exists to prevent.
    */
  private def onlyArgs(args: Map[String, String], allowed: Set[String],
                       site: String, hint: String): Unit = {
    val unknown = args.keySet -- allowed
    if (unknown.nonEmpty) throw ParseError(
      s"unknown argument${if (unknown.size > 1) "s" else ""} " +
        s"${unknown.toSeq.sorted.mkString(", ")} on $site — $hint")
  }

  /** Loud rejection of arguments on a field that takes none (a typo'd
    * `hits(size:)` silently ignored would be the quiet failure this
    * dialect never allows).
    */
  private def noArgs(args: Map[String, String], what: String): Unit =
    if (args.nonEmpty) throw ParseError(
      s"$what takes no arguments, got ${args.keys.toSeq.sorted.mkString(", ")}")

  /** Serving cap on a batch argument (mapIds terms, evidences and GO
    * ids) — the nearDupLookup discipline: an unbounded list belongs in
    * a join against an id RELATION, not in one request.
    */
  val MaxMapTerms: Int = 1000

  /** A batch argument's entries, checked in order: no empty entry (it
    * would vanish from, or shift, a positional result), not empty, no
    * duplicates under `key` (two identical entries — redundancy
    * rejected loudly), at most [[MaxMapTerms]]. A SINGLE empty entry is
    * indistinguishable from `[]` after the list join, so it reports an
    * empty list.
    */
  private def idList(raw: String, name: String, site: String,
                     key: String => String = identity): Seq[String] = {
    val all = splitList(raw)
    if (all.size > 1 && all.exists(_.isEmpty)) throw ParseError(
      s"$name must not contain empty strings")
    val ids = all.filter(_.nonEmpty)
    if (ids.isEmpty) throw ParseError(s"$name must not be empty")
    val dup = ids.groupBy(key).collect { case (_, vs) if vs.size > 1 => vs.head }
    if (dup.nonEmpty) throw ParseError(
      s"duplicate $name: ${dup.toSeq.sorted.mkString(", ")}")
    if (ids.size > MaxMapTerms) throw ParseError(
      s"$site serves at most $MaxMapTerms $name per request, got " +
        s"${ids.size} — join against an id relation for batch lookup")
    ids
  }

  /** A request's id batch as a relation, to broadcast into ONE scan —
    * never a scan per id (the S4 batch-lookup plan).
    */
  private def batchDf(spark: SparkSession, ddl: String,
                      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  // ------------------------------------------------------------------
  // Executor: sub-entities and the entity union
  // ------------------------------------------------------------------

  /** The internal column a joined (or union-widened) entity scalar
    * takes.
    */
  private def joined(e: Entity, field: String): String =
    KnowledgeGraph.entityCol(e.key, field)

  /** Entity `e`'s scalars on `df`, by its `<key>_id` edge column
    * ([[KnowledgeGraph.joinEntity]]: a LEFT join, a missing entity
    * NULL). An edge relation of the persisted KG index already carries
    * them, and is read as it is.
    */
  private def joinEntity(kg: KnowledgeGraph, df: DataFrame, e: Entity): DataFrame =
    if (df.columns.contains(joined(e, "id"))) df
    else KnowledgeGraph.joinEntity(df, e.key,
      e.scan(kg).select(e.scalars.map(s => col(s._1)): _*))

  /** Join the entities of `row` that `names` reads, in field order.
    * Only those: Catalyst cannot drop an unused join on FK-integrity
    * grounds itself, so a `knownDrugs { rows { phase drug {...} } }`
    * query never pays a targets join it does not read.
    */
  private def joinEntities(kg: KnowledgeGraph, df: DataFrame, row: Type,
                           names: Set[String]): DataFrame =
    row.fields.flatMap(f => entity(f._1)).filter(e => names(e.key))
      .foldLeft(df)(joinEntity(kg, _, _))

  /** An entity's struct over `sel`; `column` maps a scalar to the
    * column holding it at this site.
    */
  private def entityStruct(e: Entity, sel: Seq[Field])(
      column: String => Column): Column =
    struct(selection(e.key, e.scalarType, sel) { case g => column(g.name) }: _*)

  /** Entity row fields of a joined relation: a missing sub-entity
    * resolves to a NULL object, not a struct of nulls — the GraphQL
    * null the client's .get() chains expect.
    */
  private val subEntities: PartialFunction[Field, Column] = {
    case g if entity(g.name).isDefined =>
      val e = entity(g.name).get
      when(col(joined(e, "id")).isNotNull,
        entityStruct(e, g.sel)(n => col(joined(e, n))))
  }

  /** The column a union arm reads an entity scalar from, in the
    * (id, name, entity, extras...) layout of [[searchRel]].
    */
  private def armColumn(e: Entity, field: String): Column =
    if (field == "id") col("id")
    else if (field == e.label) col("name")
    else col(joined(e, field))

  /** The union-typed `object` field (`SearchResult.object:
    * EntityUnionType`, opentargets.schema:502,1290). Spark has no
    * native union type, so per SURVEY §1.2's encoding it resolves to a
    * struct of the union TAG (`__typename`, discriminating on the row's
    * entity kind) plus one NULLABLE struct per selected inline-fragment
    * arm, non-null only on rows of that type — the shape an
    * Apollo-generated client's `...on`-switch reads directly.
    */
  private def objectField(f: Field): Column = {
    if (f.args.nonEmpty) throw ParseError("'object' takes no arguments")
    if (f.sel.isEmpty) throw ParseError(
      "'object' is a union — select '__typename' and/or inline-fragment " +
        "arms ('... on Target | Drug | Disease')")
    struct(f.sel.map { g =>
      (if (g.name == "__typename") {
        noSubSel(g)
        when(col("entity") === "disease", lit("Disease"))
          .when(col("entity") === "target", lit("Target"))
          .otherwise(lit("Drug"))
      } else if (g.name.startsWith(InlineMark)) {
        val tpe = g.name.stripPrefix(InlineMark)
        val e = Entities.find(_.name == tpe).getOrElse(throw ParseError(
          s"unknown type condition '... on $tpe' — EntityUnionType " +
            "covers Target, Drug and Disease (opentargets.schema:502)"))
        when(col("entity") === e.key, entityStruct(e, g.sel)(armColumn(e, _)))
      } else throw ParseError(
        "'object' is a union — its members' fields are selected via " +
          "inline-fragment arms ('... on Drug { ... }') or " +
          s"'__typename', got '${g.name}'")
      ).as(g.out)
    }: _*)
  }

  /** The search hit relation (id, name, entity) over the selected
    * entity tables, WIDENED selection-driven for the union `object`
    * field: an entity's arm columns (its [[Entity.extras]], typed NULL
    * on the other entities' rows) join the scan only when some arm of
    * it reads one — bioType is one dimension column, but the Drug
    * block imports drugDetails' edge rollup. Shared by the search,
    * facets and mapIds roots.
    */
  private def searchRel(kg: KnowledgeGraph, entities: Seq[String],
                        objSels: Seq[Field]): DataFrame = {
    def reads(e: Entity): Boolean = objSels.flatMap(_.sel)
      .filter(_.name == InlineMark + e.name).flatMap(_.sel)
      .exists(f => e.extras.exists(_._1 == f.name))
    val widened = Entities.filter(reads)
    entities.map { key =>
      val b = entity(key).getOrElse(throw ParseError(
        s"unknown entity '$key' in entityNames — supported: " +
          Entities.map(_.key).mkString(", ")))
      (if (reads(b)) b.scan(kg) else b.lite(kg)).select(
        Seq(col("id"), col(b.label).as("name"), lit(b.key).as("entity")) ++
          widened.flatMap(e => e.extras.map { case (x, t) =>
            (if (e == b) col(x) else lit(null).cast(t)).as(joined(e, x)) }): _*)
    }.reduce(_.unionByName(_))
  }

  private def entityNames(args: Map[String, String]): Seq[String] =
    args.get("entityNames").map(splitList(_).distinct)
      .getOrElse(Entities.map(_.key))

  // ------------------------------------------------------------------
  // Executor: connections
  // ------------------------------------------------------------------

  /** Build the connection's single-row (one column) relation. */
  private def connectionDf(kg: KnowledgeGraph, e: Entity, f: Field,
                           rootKey: String): DataFrame = (e.key, f.name) match {
    case ("drug", "mechanismsOfAction") => mechanismsConnection(kg, f, rootKey)
    case ("disease", "evidences") => evidencesConnection(kg, f, rootKey)
    case ("target", "similarEntities") =>
      similarEntitiesConnection(kg, f, rootKey)
    case key => flatConnection(kg, s"${e.key}.${f.name}", Conns(key), f, rootKey)
  }

  /** A [[Conn]] connection. Each selected connection FILTERS its edge
    * relation by the root key BEFORE aggregating (partition-prunable
    * at scale, and an empty connection yields count=0/rows=[] without
    * an outer-join null dance). `count` is the TOTAL (server
    * semantics). A paged connection's rows rank-limit to the requested
    * page before the fold — an omitted page is the default first page,
    * never the whole connection — so its count is a side of its own,
    * aggregated join-free. An unpaged connection counts inside its rows
    * aggregate, over the same relation: the sub-entity joins are LEFT
    * and keep every edge row, so one aggregate (one job) serves both.
    *
    * Engine-side score-argument pushdown for the association
    * connections — arguments the reference schema declares
    * (opentargets.schema:263-265 orderByScore; scoreThreshold as on
    * :1459-1461) but its own client never pushes down
    * (candidate_drugs.py:98-109 filters client-side AFTER paying the
    * full fetch): `scoreThreshold` filters the edge relation BEFORE the
    * rank-limited collect (and before `count`, which is therefore the
    * FILTERED total), and `orderByScore: "asc" | "desc"` flips the rank
    * order (desc is the server default).
    */
  private def flatConnection(kg: KnowledgeGraph, site: String, c: Conn,
                             f: Field, rootKey: String): DataFrame = {
    val threshold = f.args.get("scoreThreshold").map(unitArg("scoreThreshold", _))
    val order = f.args.get("orderByScore").map {
      case o @ ("asc" | "desc") => o
      case o => throw ParseError(
        s"""orderByScore must be "asc" or "desc", got '$o'""")
    }
    if ((threshold.nonEmpty || order.nonEmpty) && !c.scored) throw ParseError(
      s"'$site' takes no score arguments — scoreThreshold " +
        "and orderByScore apply to associatedTargets and associatedDiseases")
    val pageArgs = Seq("page.index", "page.size", "size")
    if (!c.paged) {
      val extras = pageArgs.filter(f.args.contains)
      if (extras.nonEmpty) throw ParseError(
        s"'$site' takes no pagination arguments " +
          s"(got ${extras.mkString(", ")}) — only knownDrugs, " +
          "associatedTargets, associatedDiseases and phenotypes " +
          "are paginated")
    }
    // after the targeted misplaced-score/pagination guards above
    val allowed = (if (c.paged) pageArgs else Nil) ++
      (if (c.scored) Seq("scoreThreshold", "orderByScore") else Nil)
    onlyArgs(f.args, allowed.toSet, site,
      if (allowed.isEmpty) "it takes no arguments"
      else s"supported: ${allowed.sorted.mkString(", ")}")
    val pg = if (c.paged) page(f.args).orDefault else Page(0, None)
    val keys =
      if (order.contains("asc")) Seq(col("score"), c.sortKeys.last) else c.sortKeys
    def edges(names: Set[String]): DataFrame = {
      val rel = joinEntities(kg, c.edges(kg).filter(col(c.rootCol) === rootKey),
        c.row, names)
      threshold.fold(rel)(t => rel.filter(col("score") >= t))
    }
    def rows(rowSite: String, sel: Seq[Field]): Column =
      fold(keys, struct(selection(rowSite, c.row, sel)(subEntities): _*), pg.cut)
    c.wrapper match {
      case None => edges(f.sel.map(_.name).toSet).agg(rows(site, f.sel).as(f.out))
      case Some(w) =>
        val out = selection(site, Types(w), f.sel)()
        // the sub-entity joins serve the UNION of every aliased rows
        // selection; count-only queries join nothing
        val rowsSels = f.sel.filter(_.name == "rows")
        val flat = edges(rowsSels.flatMap(_.sel.map(_.name)).toSet)
        val counts = f.sel.filter(_.name == "count").map(g => count(lit(1)).as(g.out))
        val rowsAggs = rowsSels.map(g => rows(s"$site rows", g.sel).as(g.out))
        val aggs = counts ++ rowsAggs
        val sides =
          if (c.paged) counts.map(edges(Set.empty).agg(_)) ++
            rowsAggs.map(pg.limit(flat, keys).agg(_))
          else if (aggs.isEmpty) Nil
          else Seq(flat.agg(aggs.head, aggs.tail: _*))
        assemble(sides, flat.sparkSession)(struct(out: _*).as(f.out))
    }
  }

  /** `drug.mechanismsOfAction` — the one connection whose rows carry
    * a LIST of sub-entities (`targets: [Target!]!`,
    * opentargets.schema:997-1011; the
    * opentargets_query_targets_for_drug.py:4-21 query). Rows are
    * GROUPS of the flat (drug, mechanism, target) edge relation: one
    * aggregation keyed on the mechanism folds each group's targets
    * into a sorted array INSIDE the row struct, a second collects the
    * row structs — both shuffles bounded by the root drug's edge
    * count, never the corpus.
    */
  private def mechanismsConnection(kg: KnowledgeGraph, f: Field,
                                   rootKey: String): DataFrame = {
    val site = "drug.mechanismsOfAction"
    onlyArgs(f.args, Set.empty, site, "it takes no arguments")
    val rowsSels = f.sel.filter(_.name == "rows")
    rowsSels.foreach(_.sel.find(h => h.name == "targets" && h.sel.isEmpty)
      .foreach { _ => throw ParseError(
        s"'$site' targets need a selection of target fields") })
    // the targets join pays only when some alias reads a non-id
    // target field (id is already on the edge relation) or
    // uniqueTargetTypes needs the bioType facet
    val needTypes = f.sel.exists(_.name == "uniqueTargetTypes")
    val base = kg.mechanismRows.filter(col("drug_id") === rootKey)
    val flat =
      if (needTypes || rowsSels.exists(_.sel.exists(h =>
            h.name == "targets" && h.sel.exists(_.name != "id"))))
        joinEntity(kg, base, Target)
      else base
    // an id-only selection reads the edge column, non-null by
    // construction, even when ANOTHER alias forced the join — the
    // null guard applies only where the entity table is actually read
    def targets(ts: Seq[Field]): Column = {
      val s = entityStruct(Target, ts)(n =>
        if (n == "id") col("target_id") else col(joined(Target, n)))
      if (ts.exists(_.name != "id")) when(col(joined(Target, "id")).isNotNull, s)
      else s
    }
    // level 1: one sorted targets array PER rows alias that reads
    // targets, plus the group's bioType set when uniqueTargetTypes
    // reads it; groups still fold when nothing does
    val lvl1 = rowsSels.zipWithIndex.flatMap { case (g, i) =>
      g.sel.find(_.name == "targets").map(t =>
        fold(Seq(col("target_id")), targets(t.sel)).as(s"__targets_$i"))
    } ++ (if (needTypes) Seq(collect_set(col(joined(Target, "bioType")))
      .as("__ttypes")) else Nil)
    val lvl1Full = if (lvl1.nonEmpty) lvl1 else Seq(count(lit(1)).as("__gn"))
    val grouped = flat.groupBy(col("mechanismOfAction"), col("actionType"))
      .agg(lvl1Full.head, lvl1Full.tail: _*)
    // level 2: the row structs, ordered by the mechanism label
    // (unique per group — actionType is a function of it), one fold
    // per rows alias
    val out = selection(site, Types("MechanismsOfAction"), f.sel)()
    val parts = f.sel.filter(_.name != "__typename").map { g =>
      (g.name match {
        case "rows" =>
          val i = rowsSels.indexOf(g)
          fold(Seq(col("mechanismOfAction")), struct(selection(s"$site rows",
            Types("MechanismOfActionRow"), g.sel) {
            case h if h.name == "targets" => col(s"__targets_$i")
          }: _*))
        case "uniqueActionTypes" => sort_array(collect_set(col("actionType")))
        case _ =>
          sort_array(array_distinct(flatten(collect_list(col("__ttypes")))))
      }).as(g.out)
    }
    // a __typename-only selection still needs one aggregate to fold
    // the grouped relation to a single row
    val aggs = if (parts.nonEmpty) parts else Seq(count(lit(1)).as("__n"))
    grouped.agg(aggs.head, aggs.tail: _*).select(struct(out: _*).as(f.out))
  }

  /** `disease.evidences(ensemblIds:, size:)` — the Evidences
    * connection (opentargets.schema:230-240; row type Evidence
    * :505-509's consumed core: id, score, target, disease; wrapper
    * Evidences :682-686). `ensemblIds` is the schema's REQUIRED
    * batch filter: the request names its targets, so the engine
    * probes the persisted association index with ONE isin-pruned
    * scan (the S4 batch-lookup plan), never a per-id loop. `size`
    * rank-limits the rows (score desc, id asc —
    * TakeOrderedAndProject); `count` is the filtered connection
    * total. Cursor paging is not served — `size` covers the
    * schema's consumption here, and an unknown argument errors
    * loudly rather than silently serving an uncursored page.
    */
  private def evidencesConnection(kg: KnowledgeGraph, f: Field,
                                  rootKey: String): DataFrame = {
    val site = "disease.evidences"
    onlyArgs(f.args, Set("ensemblIds", "size"), site,
      "supported: ensemblIds, size")
    val ids = idList(f.args.getOrElse("ensemblIds", throw ParseError(
      "disease.evidences requires the ensemblIds argument " +
        "(opentargets.schema:230-240)")), "ensemblIds", site)
    val out = selection(site, Types("Evidences"), f.sel)()
    val pg = page(f.args).orDefault
    val flat = kg.evidenceRows.filter(col("disease_id") === rootKey &&
      col("target_id").isin(ids: _*))
    val keys = Seq(negate(col("score")), col("id"))
    val row = Types("Evidence")
    // one aggregate per aliased rows selection, each with its OWN
    // selection-driven sub-entity joins
    val sides =
      f.sel.filter(_.name == "count").map(g => flat.agg(count(lit(1)).as(g.out))) ++
      f.sel.filter(_.name == "rows").map { g =>
        val rel = joinEntities(kg, flat, row, g.sel.map(_.name).toSet)
        val payload = struct(selection("evidences rows", row, g.sel)(subEntities): _*)
        pg.limit(rel, keys).agg(fold(keys, payload).as(g.out))
      }
    assemble(sides, flat.sparkSession)(struct(out: _*).as(f.out))
  }

  /** `target.similarEntities(threshold:, size:, entityNames:)` — the
    * schema's model-based similarity field (opentargets.schema
    * :1422-1431; row type Similarity :1338-1345) served by the
    * engine's OWN vector tier: the root target's sidecar vector
    * ([[KnowledgeGraph.entityEmbeddings]], TGT_k ↔ vec_id k) probes
    * the corpus with the exact brute cosine top-k
    * ([[graft.operators.Similarity.bruteTopK]] — one corpus scan,
    * per-partition rank-limit; the IVF/SQ8 tiers are this engine's
    * indexed scale path for the same probe shape). `threshold`
    * filters on the ROUNDED ranking score — a monotone prefix of the
    * rank order, so filtering the top-k equals rank-limiting the
    * filtered corpus. `size` caps rows ([[MaxPageSize]] clamp,
    * [[DefaultPageSize]] default — never an unbounded list).
    * `entityNames`, when given, must name this dialect's served
    * similarity space ("target"). A hit's `object` resolves through
    * the union machinery (`... on Target` arms; a vector with no
    * entity row serves GraphQL null — the resolver-null discipline).
    * A root WITHOUT a sidecar vector serves the empty list: vector
    * absence is data, not a malformed request (the schema's
    * `[Similarity!]!` admits no null list). The one driver-side
    * value is the root's own query vector — parameter-sized, the
    * documented collect every vector-serving query performs.
    */
  private def similarEntitiesConnection(kg: KnowledgeGraph, f: Field,
                                        rootKey: String): DataFrame = {
    onlyArgs(f.args, Set("threshold", "size", "entityNames"),
      "target.similarEntities", "supported: threshold, size, entityNames")
    f.args.get("entityNames").foreach { raw =>
      val names = splitList(raw).filter(_.nonEmpty)
      if (names != Seq(Target.key)) throw ParseError(
        "target.similarEntities serves the target similarity space — " +
          s"""entityNames must be ["target"], got [${names.mkString(", ")}]""")
    }
    val threshold = f.args.get("threshold").map(unitArg("threshold", _))
    val size = page(f.args).size.getOrElse(DefaultPageSize)
    val payload = struct(selection("similarEntities", Types("Similarity"), f.sel) {
      case g if g.name == "category" => lit(Target.key)
      case g if g.name == "object" =>
        if (g.sel.isEmpty) throw ParseError(
          "'object' is a union — select '__typename' and/or " +
            "inline-fragment arms ('... on Target')")
        when(col("id").isNotNull, objectField(g))
    }: _*)
    val pk = rootKey.stripPrefix("TGT_").toLongOption.getOrElse(
      throw ParseError("target.similarEntities needs a TGT_<n> root id, " +
        s"got '$rootKey'"))
    val emb = kg.entityEmbeddings
    val qVec: Option[Array[Float]] = emb.filter(col("vec_id") === pk)
      .select(col("embedding")).collect().headOption
      .map(_.getSeq[Float](0).toArray)
    val base: DataFrame = qVec match {
      case Some(q) =>
        val topk = graft.operators.Similarity.bruteTopK(
          emb, "vec_id", "embedding", q, size, excludeId = pk)
        threshold.fold(topk)(t => topk.filter(col("cosine") >= t))
      case None =>
        emb.filter(lit(false)).select(col("vec_id"),
          lit(0.0).as("cosine"))
    }
    val withId = base.select(col("vec_id"),
      concat(lit("TGT_"), col("vec_id")).as("__sim_id"), col("cosine"))
    // objectField reads the searchRel layout: the resolution join
    // brings the Target arm's columns, and every other arm's are
    // typed nulls (those arms resolve NULL through the entity guard)
    val rel =
      if (!f.sel.exists(_.name == "object")) withId
      else {
        val arm = Target.scan(kg).select(Seq(col("id"), col(Target.label).as("name")) ++
          Target.extras.map { case (x, _) => col(x).as(joined(Target, x)) }: _*)
        val resolved = withId.join(arm, col("__sim_id") === col("id"), "left")
          .withColumn("entity", when(col("id").isNotNull, lit(Target.key)))
        val nulls = for (e <- Entities if e != Target; (x, t) <- e.extras)
          yield joined(e, x) -> t
        nulls.foldLeft(resolved) { case (d, (c, t)) => d.withColumn(c, lit(null).cast(t)) }
      }
    // numeric-id sort keys end-to-end: the fold re-sorts on the SAME
    // (rounded-cosine, vec_id) order bruteTopK ranked with, so a
    // rounded-cosine tie cannot reorder between the cut and the fold
    rel.agg(fold(Seq(negate(col("cosine")), col("vec_id")), payload).as(f.out))
  }

  // ------------------------------------------------------------------
  // Executor: roots
  // ------------------------------------------------------------------

  /** A hit of the `search` / `mapIds` roots: scalar hit fields plus
    * the union-typed `object` — the hit AS its full entity. `site`
    * names the root whose hits these are ("search hits", "mapIds
    * mapping hits"), so an error points at the root the user wrote.
    */
  private def hitStruct(sel: Seq[Field], site: String): Column =
    struct(selection(site, Types("SearchResult"), sel) {
      case g if g.name == "object" => objectField(g)
    }: _*)

  /** The `aggregations` field of SearchResults / MappingResults
    * (`SearchResultAggs`, opentargets.schema:1304-1312): total + one
    * aggregate per entity kind with nested per-category counts. This
    * dialect's category taxonomy is the entity kind (the facets
    * convention — the engine's entities carry no finer category
    * dimension), so each entity aggregate carries exactly one
    * category: itself. One keyed agg over the match relation, folded
    * to a 1-row struct column named by the field's response key.
    */
  private def aggregationsDf(rel: DataFrame, f: Field): DataFrame = {
    if (f.args.nonEmpty) throw ParseError("'aggregations' takes no arguments")
    val out = selection("aggregations", Types("SearchResultAggs"), f.sel) {
      case g if g.name == "total" => coalesce(col(g.out), lit(0L))
    }
    val grouped = rel.groupBy(col("entity")).agg(count(lit(1)).as("__n"))
    val parts = f.sel.collect {
      case g if g.name == "total" => sum(col("__n")).as(g.out)
      case g if g.name == "entities" =>
        fold(Seq(col("entity")), struct(selection("aggregations entities",
          Types("SearchResultAggEntity"), g.sel) {
          case e if e.name == "categories" => array(struct(selection(
            "aggregations categories", Types("SearchResultAggCategory"),
            e.sel)(): _*))
        }: _*)).as(g.out)
    }
    val aggs = if (parts.nonEmpty) parts else Seq(count(lit(1)).as("__c"))
    grouped.agg(aggs.head, aggs.tail: _*).select(struct(out: _*).as(f.out))
  }

  /** The `search(queryString:, entityNames:, page:)` root
    * (/root/reference/opentargets_query.py:7-13; the page argument is
    * opentargets.schema:1151-1159): case-insensitive substring match
    * over the selected entity tables' display names, hits
    * deterministically ordered (name, id) — the engine-side stand-in
    * for the server's relevance order. The substring scan is the
    * server's own semantics; `operators.InvertedIndex` is this
    * engine's indexed scale path for the same need.
    *
    * With `page`/`size` present, hits are rank-limited BEFORE the
    * array fold (the connection discipline) and `total` stays the
    * full match count. The unpaginated form returns every hit — the
    * match set is bounded by the entity DIMENSION tables (not
    * fact-scale), and the reference scripts consume `hits[0]` from
    * exactly this shape.
    */
  private def executeSearch(kg: KnowledgeGraph, root: Field): DataFrame = {
    onlyArgs(root.args,
      Set("queryString", "entityNames", "page.index", "page.size", "size"),
      "search", "supported: queryString, entityNames, page")
    val qs = root.args.getOrElse("queryString", throw ParseError(
      "search requires the queryString argument"))
    val entities = entityNames(root.args)
    val objSels = root.sel.filter(_.name == "hits").flatMap(_.sel)
      .filter(_.name == "object")
    def rel = searchRel(kg, entities, objSels)
      .filter(lower(col("name")).contains(qs.toLowerCase))
    val pg = page(root.args)
    val out = selection("search", Types("SearchResults"), root.sel) {
      case g if g.name != "aggregations" => noArgs(g.args, s"'search.${g.name}'"); col(g.out)
    }
    // entity facet counts over the FULL match set in both branches
    val aggs = root.sel.filter(_.name == "aggregations").map(aggregationsDf(rel, _))
    val keys = Seq(col("name"), col("id"))
    def hits(g: Field) =
      fold(keys, hitStruct(g.sel, "search hits"), pg.cut).as(g.out)
    val main = pg.size match {
      case None =>
        // unpaginated: total and the full hit arrays fold in ONE agg
        val parts = root.sel.collect {
          case g if g.name == "total" => count(lit(1)).as(g.out)
          case g if g.name == "hits" => hits(g)
        }
        if (parts.isEmpty) Nil else Seq(rel.agg(parts.head, parts.tail: _*))
      case Some(_) =>
        // paged: hits aggregate the rank-LIMITED relation (top-k
        // merge, never a whole-match collect); total stays the full
        // match count
        root.sel.filter(_.name == "total").map(g => rel.agg(count(lit(1)).as(g.out))) ++
          root.sel.filter(_.name == "hits").map(g => pg.limit(rel, keys).agg(hits(g)))
    }
    assemble(main ++ aggs, rel.sparkSession)(out: _*)
  }

  /** The `facets(queryString:, entityNames:, category:, page:)` root
    * (opentargets.schema:1161-1173; SearchFacetsResults :1254-1274) —
    * the last schema-declared search feature: facet rows over the
    * SAME substring-match hit relation as `search`, with per-category
    * counts for the facet-navigation UI. This dialect's facet
    * categories are the entity kinds (disease/target/drug); a facet
    * hit is (id, label, category) — label the display name. The
    * `category` argument narrows hits and total to one category,
    * while `categories { name total }` counts over the PRE-category
    * match set (the query + entityNames scope) — a category-filtered
    * page still shows the other categories' counts, which is what
    * makes facet navigation possible. `queryString` is OPTIONAL here
    * (nullable in the schema, unlike search's) — absent means the
    * whole entity scope. Hits are (label, id)-ordered and paged with
    * the search discipline: rank-limit BEFORE the array fold;
    * category counts are one keyed agg over dimension tables.
    */
  private def executeFacets(kg: KnowledgeGraph, root: Field): DataFrame = {
    onlyArgs(root.args, Set("queryString", "entityNames", "category",
      "page.index", "page.size", "size"), "facets",
      "supported: queryString, entityNames, category, page")
    val entities = entityNames(root.args)
    // the same entity-scope union the search root scans (no arm
    // widening — facet hits carry no union object)
    def scope = searchRel(kg, entities, Seq.empty)
      .filter(root.args.get("queryString")
        .map(qs => lower(col("name")).contains(qs.toLowerCase))
        .getOrElse(lit(true)))
    val category = root.args.get("category")
    category.foreach { c =>
      if (!entities.contains(c)) throw ParseError(
        s"category '$c' is outside the searched scope " +
          s"(${entities.mkString(", ")}) — this dialect's facet " +
          "categories are the entity kinds")
    }
    val hitsRel = category.fold(scope)(c => scope.filter(col("entity") === c))
    val pg = page(root.args)
    val out = selection("facets", Types("SearchFacetsResults"), root.sel) {
      case g => noArgs(g.args, s"'facets.${g.name}'"); col(g.out)
    }
    val keys = Seq(col("name"), col("id"))
    val sides =
      root.sel.filter(_.name == "total")
        .map(g => hitsRel.agg(count(lit(1)).as(g.out))) ++
      root.sel.filter(_.name == "hits").map { g =>
        val src = pg.limit(hitsRel, keys)
        src.agg(fold(keys, struct(selection("facets hits",
          Types("SearchFacetsResult"), g.sel)(): _*), pg.cut).as(g.out))
      } ++
      root.sel.filter(_.name == "categories").map { g =>
        val payload = struct(selection("facets categories",
          Types("SearchFacetsCategory"), g.sel)(): _*)
        scope.groupBy(col("entity")).agg(count(lit(1)).as("n"))
          .agg(fold(Seq(col("entity")), payload).as(g.out))
      }
    assemble(sides, scope.sparkSession)(out: _*)
  }

  /** The `mapIds(queryTerms:, entityNames:)` root
    * (opentargets.schema:1176-1181 → MappingResults :977-983): map a
    * BATCH of free-text terms to entity hits in one request — the
    * bulk companion of `search` (the schema's term-to-ID utility).
    * ONE pass over the entity scope: the term list rides as a
    * broadcast relation into the substring-match filter (never a scan
    * per term — the S4 batch-lookup discipline), then one keyed fold
    * per term builds its hit array; terms with NO hits still emit a
    * mapping with an empty array (the client iterates its own term
    * list positionally). `mappings` keeps the REQUEST order of
    * queryTerms; hits are (name, id)-ordered; `total` is the hit
    * count across all mappings; `aggregations` follows the search
    * root's entity-facet convention (counts over term-hit MATCHES).
    * Duplicate terms — keyed on the LOWERCASED term, the match
    * filter's own normalization — and a batch above [[MaxMapTerms]]
    * are targeted errors. Hits are full SearchResults — the union
    * `object` field and its inline-fragment arms work here unchanged.
    */
  private def executeMapIds(kg: KnowledgeGraph, root: Field): DataFrame = {
    onlyArgs(root.args, Set("queryTerms", "entityNames"), "mapIds",
      "supported: queryTerms, entityNames")
    val terms = idList(root.args.getOrElse("queryTerms", throw ParseError(
      "mapIds requires the queryTerms argument")), "queryTerms", "mapIds",
      _.toLowerCase)
    val entities = entityNames(root.args)
    val out = selection("mapIds", Types("MappingResults"), root.sel) {
      case g if g.name != "aggregations" => noArgs(g.args, s"'mapIds.${g.name}'"); col(g.out)
    }
    val objSels = root.sel.filter(_.name == "mappings").flatMap(_.sel)
      .filter(_.name == "hits").flatMap(_.sel).filter(_.name == "object")
    val rel = searchRel(kg, entities, objSels)
    val spark = rel.sparkSession
    val termsDf = batchDf(spark, "__term STRING, __lt STRING, __ord INT",
      terms.zipWithIndex.map { case (t, i) => Row(t, t.toLowerCase, i) })
    // every (term, hit) match in ONE scan; a LEFT join back to the
    // term relation keeps zero-hit terms (their hit columns are null
    // and the fold's keep guard leaves them out: an empty array)
    val matched = rel.crossJoin(broadcast(termsDf))
      .filter(lower(col("name")).contains(col("__lt")))
    val all = termsDf.join(matched.drop("__lt"),
      Seq("__term", "__ord"), "left")
    def mappingsDf(g: Field): DataFrame = {
      // per-alias hit arrays first (one grouped agg per term)...
      val hitParts = g.sel.filter(_.name == "hits").map(h =>
        fold(Seq(col("name"), col("id")), hitStruct(h.sel, "mapIds mapping hits"),
          keep = Some(col("id").isNotNull)).as(h.out))
      val parts =
        if (hitParts.nonEmpty) hitParts else Seq(count(lit(1)).as("__c"))
      val grouped = all.groupBy(col("__term"), col("__ord"))
        .agg(parts.head, parts.tail: _*)
      // ...then the mapping structs fold in REQUEST order
      val payload = struct(selection("mapIds mappings",
        Types("MappingResult"), g.sel)(): _*)
      grouped.agg(fold(Seq(col("__ord")), payload).as(g.out))
    }
    val sides =
      root.sel.filter(_.name == "total")
        .map(g => matched.agg(count(lit(1)).as(g.out))) ++
      root.sel.filter(_.name == "mappings").map(mappingsDf) ++
      root.sel.filter(_.name == "aggregations").map(aggregationsDf(matched, _))
    assemble(sides, spark)(out: _*)
  }

  /** The dialect's executable Query type, introspection-shaped: root
    * field name → (args as (name, rendered type), rendered result
    * type). Renderings are the reference schema's own
    * (opentargets.schema:1116-1192), restricted to exactly the
    * surface [[execute]] dispatches — introspection is a CONTRACT
    * about what runs here, so a root appears iff it executes.
    */
  private val QueryRoots: Seq[(String, Seq[(String, String)], String)] =
    Entities.flatMap(e => Seq(
      (e.key, Seq(e.arg -> "String!"), e.name),
      (e.key + "s", Seq(e.arg + "s" -> "[String!]!"), s"[${e.name}!]!"))) ++ Seq(
    ("meta", Seq.empty, "Meta!"),
    ("search", Seq("queryString" -> "String!", "entityNames" -> "[String!]",
      "page" -> "Pagination"), "SearchResults!"),
    ("facets", Seq("queryString" -> "String", "entityNames" -> "[String!]",
      "category" -> "String", "page" -> "Pagination"),
      "SearchFacetsResults!"),
    ("mapIds", Seq("queryTerms" -> "[String!]!",
      "entityNames" -> "[String!]"), "MappingResults!"),
    ("associationDatasources", Seq.empty, "[EvidenceSource!]!"),
    ("interactionResources", Seq.empty, "[InteractionResources!]!"),
    ("geneOntologyTerms", Seq("goIds" -> "[String!]!"),
      "[GeneOntologyTerm]!"))

  /** Object types `__type(name:)` serves, with the field names this
    * dialect actually resolves on each — read off the type table. The
    * executable-surface rule again: a field appears iff a query
    * selecting it runs.
    */
  private val IntroTypes: Map[String, Seq[String]] =
    (("Query" -> QueryRoots.map(_._1)) +: Seq("Disease", "Target", "Drug",
      "GeneOntologyTerm", "Tractability", "HPO", "Evidence", "Similarity",
      "Meta").map(t => t -> Types(t).fields.map(_._1))).toMap

  // introspection's own types, as this dialect serves them
  private val IntroSchema = Type("__Schema", Seq("queryType" -> Obj()))
  private val IntroType = Type("__Type",
    Seq("fields" -> Obj(), "kind" -> Calc, "name" -> Calc))
  private val IntroField = Type("__Field",
    Seq("args" -> Obj(), "name" -> Calc, "type" -> Obj()))
  private val IntroFieldName = Type("__Field", Seq("name" -> Calc))
  private val IntroInput = Type("__InputValue", Seq("name" -> Calc, "type" -> Obj()))
  private val IntroRef = Type("__Type", Seq("name" -> Calc))

  /** Minimal GraphQL introspection — the first request every real
    * client (GraphiQL, Apollo, graphql-request) sends against an
    * endpoint shaped like this schema. Serves `__schema { queryType
    * { name fields { name args { name type { name } } type { name }
    * } } }` and `__type(name:)` over the dialect's OWN executable
    * surface. One documented divergence from full introspection: a
    * type reference's `name` carries the schema's RENDERED type
    * string (`[Target!]!`) instead of an `ofType` wrapper chain —
    * the flattened form is what the reference schema's own text
    * shows, and wrapper-chain walking is not served (selecting
    * `ofType` errors loudly, like every unknown introspection field
    * here — a client sees a targeted message, never a silent null).
    */
  private def executeSchemaIntrospection(kg: KnowledgeGraph,
                                         root: Field): DataFrame = {
    noArgs(root.args, "__schema")
    kg.spark.range(1).select(
      selection("__schema", IntroSchema, root.sel) { case f =>
        struct(selection("__schema.queryType", IntroType, f.sel) {
          case g if g.name == "name" => lit("Query")
          case g if g.name == "kind" => lit("OBJECT")
          case g => array(QueryRoots.sortBy(_._1).map { case (n, args, ret) =>
            introField(g.sel, n, args, ret)
          }: _*)
        }: _*)
      }: _*)
  }

  private def introField(sel: Seq[Field], fname: String,
                         args: Seq[(String, String)], ret: String): Column = {
    def arg(sel: Seq[Field], aname: String, atype: String): Column =
      struct(selection("fields.args", IntroInput, sel) {
        case h if h.name == "name" => lit(aname)
        case h => introRef("args.type", h.sel, atype)
      }: _*)
    struct(selection("queryType.fields", IntroField, sel) {
      case h if h.name == "name" => lit(fname)
      case h if h.name == "type" => introRef("fields.type", h.sel, ret)
      case h =>
        if (args.isEmpty)
          // typed empty array: the template struct filtered away
          filter(array(arg(h.sel, "", "")), _ => lit(false))
        else array(args.sortBy(_._1).map { case (an, at) =>
          arg(h.sel, an, at) }: _*)
    }: _*)
  }

  /** A type reference: its rendered name (the dialect renders wrapper
    * chains into the name; ofType walking is not served).
    */
  private def introRef(site: String, sel: Seq[Field], rendered: String): Column =
    struct(selection(site, IntroRef, sel) { case _ => lit(rendered) }: _*)

  /** `__type(name:)` — one named type of the executable surface:
    * name, kind, fields { name }. Unknown names error loudly with the
    * served catalog (a client probing an entity it cannot query must
    * learn that HERE, not from a null it dereferences later).
    */
  private def executeTypeIntrospection(kg: KnowledgeGraph,
                                       root: Field): DataFrame = {
    onlyArgs(root.args, Set("name"), "__type", "it takes only name")
    val tname = root.args.getOrElse("name", throw ParseError(
      "__type requires the name argument"))
    val tfields = IntroTypes.getOrElse(tname, throw ParseError(
      s"unknown type '$tname' — introspectable types: " +
        IntroTypes.keys.toSeq.sorted.mkString(", ")))
    kg.spark.range(1).select(
      selection("__type", IntroType, root.sel) {
        case f if f.name == "name" => lit(tname)
        case f if f.name == "kind" => lit("OBJECT")
        case f => array(tfields.sorted.map(n =>
          struct(selection("__type.fields", IntroFieldName, f.sel) {
            case _ => lit(n) }: _*)): _*)
      }: _*)
  }

  /** The `meta` root (opentargets.schema:1118 → Meta :1013-1017):
    * API metadata as one row — the `name` scalar plus the
    * `apiVersion` / `dataVersion` object fields, each selection-
    * shaped. The values come off [[KnowledgeGraph.meta]]'s one-row
    * aggregate (dataVersion is the corpus's data cut), so the root is
    * a real computation the oracle replays, not a literal echo.
    */
  private def executeMeta(kg: KnowledgeGraph, root: Field): DataFrame = {
    noArgs(root.args, "meta")
    kg.meta.select(selection("meta", Types("Meta"), root.sel) {
      // the object fields nest by default; arguments on them are loud
      case f if f.name != "name" && f.args.nonEmpty =>
        throw ParseError(s"'meta.${f.name}' takes no arguments")
    }: _*)
  }

  /** The two argument-less catalog roots — `associationDatasources`
    * (opentargets.schema:1183-1184, EvidenceSource :659-662) and
    * `interactionResources` (:1186-1187, :827-830). Each is one row
    * whose root column is the key-sorted array of catalog entries
    * (the executeBatch list convention); the views behind them are
    * low-cardinality map-side-combined aggs ([[KnowledgeGraph]]), so
    * "the complete list of all possible X" stays catalog-cost at any
    * corpus scale.
    */
  private def executeCatalog(kg: KnowledgeGraph, root: Field): DataFrame = {
    val (base, sortKey, t) = root.name match {
      case "associationDatasources" =>
        (kg.associationDatasources, "datasource", Types("EvidenceSource"))
      case _ =>
        (kg.interactionResources, "sourceDatabase", Types("InteractionResources"))
    }
    noArgs(root.args, root.name)
    val payload = struct(selection(root.name, t, root.sel)(): _*)
    base.agg(fold(Seq(col(sortKey)), payload).as(root.out))
  }

  /** The `geneOntologyTerms(goIds: [...])` root (opentargets.schema:
    * 1189-1192 → GeneOntologyTerm :714-717). The S4 batch-lookup plan
    * over [[KnowledgeGraph.goTerms]] — the id batch rides as a
    * broadcast relation into ONE exact-match scan, never a scan per
    * id — with the mapIds POSITIONAL discipline: the result list
    * keeps the request order of goIds and a missing GO id emits a
    * null entry (the schema's element type is nullable —
    * `[GeneOntologyTerm]!` — unlike the other batch roots' `[X!]!`),
    * so the client indexes the response by its own request list. GO
    * ids are exact-match identifiers, so duplicates are case-sensitive
    * like the lookup itself.
    */
  private def executeGoTerms(kg: KnowledgeGraph, root: Field): DataFrame = {
    onlyArgs(root.args, Set("goIds"), "geneOntologyTerms", "it takes only goIds")
    val ids = idList(root.args.getOrElse("goIds", throw ParseError(
      "geneOntologyTerms requires the goIds argument")), "goIds",
      "geneOntologyTerms")
    val payload = struct(selection("geneOntologyTerms",
      Types("GeneOntologyTerm"), root.sel)(): _*)
    val terms = kg.goTerms
    val idsDf = batchDf(terms.sparkSession, "__gid STRING, __ord INT",
      ids.zipWithIndex.map { case (g, i) => Row(g, i) })
    // left join keeps missing ids; the struct wrapper keeps their
    // NULL payloads as array entries (collect_list drops bare nulls).
    // The CATALOG side broadcasts (left-outer builds right) — at any
    // corpus scale goTerms is a low-cardinality distinct.
    idsDf.join(broadcast(terms), col("__gid") === col("id"), "left")
      .agg(fold(Seq(col("__ord")), when(col("id").isNotNull, payload))
        .as(root.out))
  }

  /** Batch point-lookup roots — `targets(ensemblIds: [...])` /
    * `diseases(efoIds:)` / `drugs(chemblIds:)`
    * (opentargets.schema:1125-1148, declared but unused by the
    * reference scripts — they loop one query per id, the documented
    * missed optimization of SURVEY §4.1). Here the id list becomes
    * ONE `isin`-filtered scan (the S4 batch-lookup plan): N lookups,
    * one pass over the entity table. Result is the GraphQL list —
    * one row whose root column is the id-sorted array of entities.
    */
  private def executeBatch(kg: KnowledgeGraph, e: Entity, root: Field): DataFrame = {
    val arg = e.arg + "s"
    val ids = splitList(root.args.getOrElse(arg, throw ParseError(
      s"${root.name} requires the $arg argument"))).filter(_.nonEmpty)
    onlyArgs(root.args, Set(arg), root.name, s"it takes only $arg")
    if (ids.isEmpty) throw ParseError(s"$arg must not be empty")
    val payload = struct(selection(root.name, e.scalarType, root.sel)(): _*)
    e.scan(kg).filter(col("id").isin(ids: _*))
      .agg(fold(Seq(col("id")), payload).as(root.out))
  }

  /** A root entity lookup: one filtered scan; each selected connection
    * broadcast-joins its 1-row relation back.
    */
  private def executeLookup(kg: KnowledgeGraph, e: Entity, root: Field): DataFrame = {
    val rootKey = root.args.getOrElse(e.arg, throw ParseError(
      s"${e.key} requires the ${e.arg} argument; got " +
        (if (root.args.isEmpty) "none" else root.args.keys.mkString(", "))))
    onlyArgs(root.args, Set(e.arg), e.key,
      s"it takes only ${e.arg} (opentargets.schema:1125-1148)")
    var df = e.scan(kg).filter(col("id") === rootKey)
    val out = selection(e.key, e.tpe, root.sel) {
      case f if e.conns.contains(f.name) =>
        df = df.crossJoin(broadcast(connectionDf(kg, e, f, rootKey)))
        col(f.out)
    }
    df.select(out: _*)
  }

  /** Execute `query` against the knowledge graph. One row out (the
    * GraphQL `data` object); nested columns in selection order.
    * `variables` binds `query ($x: Type!)` declarations — the form
    * the Open Targets docs use for every parameterized example.
    */
  def execute(kg: KnowledgeGraph, query: String,
              variables: Map[String, String] = Map.empty): DataFrame = {
    val root = parse(query, variables)
    checkInline(Field("query", Map.empty, Seq(root)), underUnion = false)
    root.name match {
      case "__schema" => executeSchemaIntrospection(kg, root)
      case "__type" => executeTypeIntrospection(kg, root)
      case "search" => executeSearch(kg, root)
      case "facets" => executeFacets(kg, root)
      case "mapIds" => executeMapIds(kg, root)
      case "meta" => executeMeta(kg, root)
      case "geneOntologyTerms" => executeGoTerms(kg, root)
      case "associationDatasources" | "interactionResources" =>
        executeCatalog(kg, root)
      case n => entity(n).map(executeLookup(kg, _, root))
        .orElse(Entities.find(_.key + "s" == n).map(executeBatch(kg, _, root)))
        .getOrElse(throw ParseError(
          s"unknown root '$n' — supported: disease(efoId:), " +
            "target(ensemblId:), drug(chemblId:), search(queryString:), " +
            "facets(queryString:), mapIds(queryTerms:), " +
            "targets(ensemblIds:), diseases(efoIds:), drugs(chemblIds:), " +
            "geneOntologyTerms(goIds:), meta, associationDatasources, " +
            "interactionResources — the schema's full Query type " +
            "(opentargets.schema:1116-1192) — plus the __schema/__type " +
            "introspection roots"))
    }
  }
}
