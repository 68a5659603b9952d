package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Ottl

/** A config-string → Catalyst `Column` compiler for the OTTL-style
  * condition/expression language — the piece that makes pipelines
  * definable from config text instead of recompiled Scala.
  *
  * Grammar (clean-room, mirroring the reference's OTTL surface:
  * `pkg/ottl/grammar.go:14-120` boolean precedence OR < AND < NOT,
  * `pkg/ottl/LANGUAGE.md` paths/literals/converters):
  *
  * {{{
  * orExpr   := andExpr ( "or" andExpr )*
  * andExpr  := unary   ( "and" unary )*
  * unary    := "not" unary | cmp
  * cmp      := sum ( ("=="|"!="|"<="|">="|"<"|">") sum )?
  * sum      := product ( ("+"|"-") product )*
  * product  := atom ( ("*"|"/") atom )*
  * atom     := literal | list | path | Converter "(" args ")" | "(" orExpr ")"
  * literal  := "..." | int | float | true | false | nil
  * path     := ident ( "." ident )* ( "[" (string|int) "]" )*
  * }}}
  *
  * Comparison semantics follow `pkg/ottl/compare.go`:
  *   - `==`/`!=` are null-safe (`nil == nil` is true) → Spark `<=>`;
  *   - ordering comparisons involving nil are false (`compare.go:19-21`
  *     invalidComparison) → wrapped in `coalesce(..., false)`;
  *   - a whole condition evaluating to null (the batch analog of an OTTL
  *     eval error) is false, matching `error_mode: ignore` in
  *     `ConditionSequence.Eval` (`pkg/ottl/parser.go:332-362`).
  */
object ExprLang {

  // ---------------- AST ----------------

  sealed trait Expr
  final case class Lit(v: Any) extends Expr // String | Long | Double | Boolean | null
  final case class PathSeg(name: String, keys: Seq[Either[String, Long]])
  final case class Path(segs: Seq[PathSeg]) extends Expr
  final case class Func(name: String, args: Seq[Expr]) extends Expr
  final case class EList(items: Seq[Expr]) extends Expr
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Math(op: Char, l: Expr, r: Expr) extends Expr

  final case class ExprParseException(msg: String, pos: Int)
    extends IllegalArgumentException(s"$msg at offset $pos")

  // ---------------- lexer ----------------

  private sealed trait Tok { def pos: Int }
  private final case class TIdent(s: String, pos: Int) extends Tok
  private final case class TStr(s: String, pos: Int) extends Tok
  private final case class TInt(v: Long, pos: Int) extends Tok
  private final case class TFloat(v: Double, pos: Int) extends Tok
  private final case class TOp(s: String, pos: Int) extends Tok
  private final case class TEnd(pos: Int) extends Tok

  private def lex(s: String): Vector[Tok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          s(j) match {
            case '\\' if j + 1 < n =>
              sb.append(s(j + 1) match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case other => other
              }); j += 2
            case '"' => closed = true; j += 1
            case ch => sb.append(ch); j += 1
          }
        }
        if (!closed) throw ExprParseException("unterminated string", i)
        out += TStr(sb.result(), i); i = j
      } else if (c.isDigit || (c == '-' && i + 1 < n && s(i + 1).isDigit &&
          // '-' starts a NEGATIVE LITERAL only in operand position
          // (expression start or right after an operator/open-paren) —
          // after an operand or ')' it is binary subtraction, else
          // "dur_ms > 100-50" lexes as TInt(-50) and the sum grammar
          // rejects a config-valid expression with "trailing input"
          out.lastOption.forall {
            case TOp(op, _) => op != ")" && op != "]"
            // keywords lex as TIdent but are operators in the grammar,
            // so "x and -1 < y" / "... where -5 < d" are operand position
            case TIdent(kw, _) => kw == "and" || kw == "or" || kw == "not" || kw == "where"
            case _ => false
          })) {
        var j = i + 1
        while (j < n && (s(j).isDigit || s(j) == '.')) j += 1
        val raw = s.substring(i, j)
        // positioned parse error, not a raw NumberFormatException: a
        // config author typing "1.2.3" or an over-Long integer should
        // get the language's error with an offset
        try {
          if (raw.contains('.')) out += TFloat(raw.toDouble, i)
          else out += TInt(raw.toLong, i)
        } catch {
          case _: NumberFormatException =>
            throw ExprParseException(s"malformed numeric literal '$raw'", i)
        }
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < n && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
        out += TIdent(s.substring(i, j), i); i = j
      } else {
        val two = if (i + 1 < n) s.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=").contains(two)) { out += TOp(two, i); i += 2 }
        else if ("()[],.<>+-*/".indexOf(c) >= 0) { out += TOp(c.toString, i); i += 1 }
        else throw ExprParseException(s"unexpected character '$c'", i)
      }
    }
    out += TEnd(n)
    out.toVector
  }

  // ---------------- parser (recursive descent) ----------------

  private final class P(toks: Vector[Tok]) {
    private var i = 0
    private def cur: Tok = toks(i)
    private def advance(): Tok = { val t = cur; i += 1; t }
    private def expectOp(op: String): Unit = cur match {
      case TOp(`op`, _) => i += 1
      case t => throw ExprParseException(s"expected '$op'", t.pos)
    }
    private def atOp(op: String): Boolean = cur match {
      case TOp(`op`, _) => true; case _ => false
    }
    private def atKeyword(kw: String): Boolean = cur match {
      case TIdent(`kw`, _) => true; case _ => false
    }

    def parseAll(): Expr = {
      val e = orExpr()
      cur match {
        case TEnd(_) => e
        case t => throw ExprParseException("trailing input", t.pos)
      }
    }

    /** `editor(args...) [where condition]` — the OTTL statement form
      * (`pkg/ottl/grammar.go:14-19` parsedStatement; editors are
      * lowercase, which is why this cannot reuse atom()'s
      * uppercase-converter rule). */
    def parseStatementAll(): Stmt = {
      val name = advance() match {
        case TIdent(s, _) if s.head.isLower => s
        case t => throw ExprParseException("expected editor name (lowercase)", t.pos)
      }
      expectOp("(")
      val args = Seq.newBuilder[Expr]
      if (!atOp(")")) {
        args += orExpr()
        while (atOp(",")) { advance(); args += orExpr() }
      }
      expectOp(")")
      val where = if (atKeyword("where")) { advance(); Some(orExpr()) } else None
      cur match {
        case TEnd(_) => Stmt(name, args.result(), where)
        case t => throw ExprParseException("trailing input", t.pos)
      }
    }

    private def orExpr(): Expr = {
      var l = andExpr()
      while (atKeyword("or")) { advance(); l = Or(l, andExpr()) }
      l
    }
    private def andExpr(): Expr = {
      var l = unary()
      while (atKeyword("and")) { advance(); l = And(l, unary()) }
      l
    }
    private def unary(): Expr =
      if (atKeyword("not")) { advance(); Not(unary()) } else cmp()

    private def cmp(): Expr = {
      val l = sum()
      cur match {
        case TOp(op, _) if Set("==", "!=", "<", "<=", ">", ">=")(op) =>
          advance(); Cmp(op, l, sum())
        case _ => l
      }
    }
    private def sum(): Expr = {
      var l = product()
      while (atOp("+") || atOp("-")) {
        val TOp(op, _) = advance(): @unchecked
        l = Math(op.head, l, product())
      }
      l
    }
    private def product(): Expr = {
      var l = atom()
      while (atOp("*") || atOp("/")) {
        val TOp(op, _) = advance(): @unchecked
        l = Math(op.head, l, atom())
      }
      l
    }

    private def atom(): Expr = cur match {
      case TStr(s, _) => advance(); Lit(s)
      case TInt(v, _) => advance(); Lit(v)
      case TFloat(v, _) => advance(); Lit(v)
      case TOp("(", _) => advance(); val e = orExpr(); expectOp(")"); e
      case TOp("[", _) =>
        advance()
        val items = Seq.newBuilder[Expr]
        if (!atOp("]")) {
          items += orExpr()
          while (atOp(",")) { advance(); items += orExpr() }
        }
        expectOp("]"); EList(items.result())
      case TIdent("true", _) => advance(); Lit(true)
      case TIdent("false", _) => advance(); Lit(false)
      case TIdent("nil", _) => advance(); Lit(null)
      case TIdent(name, _) if name.head.isUpper =>
        // Converter call — `pkg/ottl/grammar.go` requires converters to
        // start uppercase and paths lowercase, which disambiguates here too
        advance(); expectOp("(")
        val args = Seq.newBuilder[Expr]
        if (!atOp(")")) {
          args += orExpr()
          while (atOp(",")) { advance(); args += orExpr() }
        }
        expectOp(")"); Func(name, args.result())
      case TIdent(_, _) => path()
      case t => throw ExprParseException("expected expression", t.pos)
    }

    private def path(): Expr = {
      def seg(): PathSeg = {
        val name = advance() match {
          case TIdent(s, _) => s
          case t => throw ExprParseException("expected identifier", t.pos)
        }
        val keys = Seq.newBuilder[Either[String, Long]]
        while (atOp("[")) {
          advance()
          advance() match {
            case TStr(s, _) => keys += Left(s)
            case TInt(v, _) => keys += Right(v)
            case t => throw ExprParseException("expected string or int key", t.pos)
          }
          expectOp("]")
        }
        PathSeg(name, keys.result())
      }
      val segs = Seq.newBuilder[PathSeg]
      segs += seg()
      while (atOp(".")) { advance(); segs += seg() }
      Path(segs.result())
    }
  }

  def parse(s: String): Expr = new P(lex(s)).parseAll()

  /** One OTTL statement: lowercase editor + args + optional where. */
  final case class Stmt(editor: String, args: Seq[Expr], where: Option[Expr])

  def parseStatement(s: String): Stmt = new P(lex(s)).parseStatementAll()

  // ---------------- compiler: AST → Column ----------------

  type Resolver = Path => Column

  private def litCol(v: Any): Column = if (v == null) lit(null) else lit(v)

  def compileExpr(e: Expr, resolve: Resolver): Column = e match {
    case Lit(v) => litCol(v)
    case p: Path => resolve(p)
    case EList(items) => array(items.map(compileExpr(_, resolve)): _*)
    case Cmp(op, l, r) =>
      val (a, b) = (compileExpr(l, resolve), compileExpr(r, resolve))
      op match {
        case "==" => a <=> b
        case "!=" => !(a <=> b)
        // ordering vs nil is false, not null (compare.go invalidComparison)
        case "<" => coalesce(a < b, lit(false))
        case "<=" => coalesce(a <= b, lit(false))
        case ">" => coalesce(a > b, lit(false))
        case ">=" => coalesce(a >= b, lit(false))
      }
    case Not(x) => !compileExpr(x, resolve)
    case And(l, r) => compileExpr(l, resolve) && compileExpr(r, resolve)
    case Or(l, r) => compileExpr(l, resolve) || compileExpr(r, resolve)
    case Math(op, l, r) =>
      val (a, b) = (compileExpr(l, resolve), compileExpr(r, resolve))
      // try_* arithmetic, not bare operators: under Spark 4's default
      // ANSI mode a division by zero or an overflow THROWS and kills
      // the whole batch — OTTL error_mode=ignore semantics (and this
      // file's try_cast discipline) require the row to evaluate null
      // and become a non-match instead
      op match {
        case '+' => try_add(a, b); case '-' => try_subtract(a, b)
        case '*' => try_multiply(a, b); case '/' => try_divide(a, b)
      }
    case Func(name, args) => compileFunc(name, args, resolve)
  }

  /** Converter dispatch — OTTL names (`pkg/ottl/ottlfuncs/README.md`),
    * bodies delegated to the existing [[graft.functions.Ottl]] surface. */
  private def compileFunc(name: String, args: Seq[Expr], resolve: Resolver): Column = {
    // arity-checked accessor: a wrong-arity call in a config string
    // (`IsMatch(body)` with the pattern forgotten) must name the
    // converter and the missing position, not surface as a bare
    // IndexOutOfBoundsException with no source context
    def at(i: Int): Expr = {
      if (i >= args.size) throw new IllegalArgumentException(
        s"$name: expects at least ${i + 1} argument(s), got ${args.size}")
      args(i)
    }
    def c(i: Int): Column = compileExpr(at(i), resolve)
    def str(i: Int): String = at(i) match {
      case Lit(s: String) => s
      case _ => throw new IllegalArgumentException(s"$name: argument ${i + 1} must be a string literal")
    }
    def int(i: Int): Int = at(i) match {
      case Lit(v: Long) => v.toInt
      case _ => throw new IllegalArgumentException(s"$name: argument ${i + 1} must be an int literal")
    }
    name match {
      case "IsMatch" => Ottl.isMatch(c(0), str(1))
      case "Concat" => args.head match {
        // Ottl.ottlConcat, not bare concat_ws: OTTL renders nil elements
        // as empty strings with delimiters kept
        case EList(items) => Ottl.ottlConcat(str(1), items.map(compileExpr(_, resolve)): _*)
        case _ => throw new IllegalArgumentException("Concat: first argument must be a list")
      }
      // try_cast, not cast: an unconvertible value is an OTTL eval ERROR,
      // which error_mode=ignore swallows — under ANSI a plain cast would
      // throw and kill the whole batch instead of skipping the row
      case "Int" => c(0).try_cast("bigint")
      case "Double" => c(0).try_cast("double")
      case "String" => Ottl.toStringCol(c(0))
      case "Len" => Ottl.ottlLen(c(0))
      case "Substring" => Ottl.ottlSubstring(c(0), int(1), int(2))
      case "Split" => Ottl.ottlSplit(c(0), str(1))
      case "ConvertCase" => Ottl.convertCase(c(0), str(1))
      case "ToLowerCase" => lower(c(0))
      case "ToUpperCase" => upper(c(0))
      case "SHA1" => Ottl.sha1Hex(c(0))
      case "SHA256" => Ottl.sha256Hex(c(0))
      case "FNV" => Ottl.fnv1a64(c(0))
      case "Log" => Ottl.ottlLog(c(0))
      // try_to_timestamp, not to_timestamp: an unparseable value is an
      // OTTL eval error (row → non-match under error_mode=ignore); the
      // plain form throws under default-ANSI Spark 4 and kills the
      // batch.
      case "Time" => try_to_timestamp(c(0), lit(str(1)))
      case "TruncateTime" => Ottl.truncateTime(c(0), str(1))
      case "UnixSeconds" => Ottl.unixSeconds(c(0))
      case "UnixMilli" => Ottl.unixMillis(c(0))
      case "UnixMicro" => Ottl.unixMicros(c(0))
      case "Hour" => Ottl.hourOf(c(0))
      case "Duration" => Ottl.durationSeconds(c(0))
      // ParseKeyValue(target, delimiter = "=", pair_delimiter = " ")
      // (func_parse_key_value.go): arg 2 is the KEY-VALUE delimiter and
      // arg 3 the pair separator — the reverse of str_to_map's order;
      // both trailing args are Optional in the reference
      case "ParseKeyValue" => args.size match {
        case 1 => Ottl.parseKeyValue(c(0))
        case 2 => Ottl.parseKeyValue(c(0), kvSep = str(1))
        case _ => Ottl.parseKeyValue(c(0), pairSep = str(2), kvSep = str(1))
      }
      case other => throw new IllegalArgumentException(s"unknown converter: $other")
    }
  }

  /** Compile an OTTL-style boolean condition. The outer `coalesce(_,
    * false)` renders `error_mode: ignore`: a row where the condition
    * evaluates to null (missing attr, failed cast) does not match —
    * exactly how an errored OTTL condition is skipped in
    * `ConditionSequence.Eval` under OR logic. */
  def condition(s: String, resolve: Resolver): Column =
    // try_cast, not cast: a non-boolean condition value must make the
    // row a NON-MATCH (coalesce → false, the error_mode=ignore
    // rendering) — plain cast under Spark 4's default ANSI mode throws
    // CAST_INVALID_INPUT on e.g. the string "yes" and kills the batch
    coalesce(compileExpr(parse(s), resolve).try_cast("boolean"), lit(false))

  /** Compile a value expression (for set/add/transform right-hand sides). */
  def value(s: String, resolve: Resolver): Column =
    compileExpr(parse(s), resolve)

  /** Multiple conditions OR-ed — the reference's default multi-condition
    * combination (`connector/countconnector`, `parser.go:332-340`). An
    * EMPTY list matches everything (the count connector's no-conditions
    * default — and what a `conditions: []` config block means), not an
    * empty-reduce crash. */
  def anyOf(conds: Seq[String], resolve: Resolver): Column =
    if (conds.isEmpty) lit(true)
    else conds.map(condition(_, resolve)).reduce(_ || _)

  // ---------------- statement application (editors + where) ----------------

  /** Target of an editor: (physical column, optional map key). */
  type TargetResolver = Path => (String, Option[String])

  /** Transcript-context target mapping: `body` → text; `attributes["k"]`
    * → the `parsed` map entry when k is a parse-bank field, else the
    * top-level column k; bare `attributes` → the parsed map itself. */
  def transcriptTargets(parsedFields: Set[String]): TargetResolver = {
    case Path(Seq(PathSeg("body", Nil))) => ("text", None)
    case Path(Seq(PathSeg("attributes", Seq(Left(k))))) =>
      if (parsedFields(k)) ("parsed", Some(k)) else (k, None)
    case Path(Seq(PathSeg("attributes", Nil))) => ("parsed", None)
    case Path(Seq(PathSeg(name, Nil))) => (name, None)
    case p => throw new IllegalArgumentException(s"unsupported editor target: $p")
  }

  /** Apply one config-text OTTL statement to a frame — the transform
    * processor's statement execution (`pkg/ottl/parser.go:120-138`
    * statement compilation; `where` null-safety = error_mode ignore).
    * The target column is rewritten WHERE the condition holds and left
    * unchanged elsewhere — the relational rendering of per-record
    * statement execution. */
  def applyStatement(df: org.apache.spark.sql.DataFrame, s: String,
                     resolve: Resolver, targets: TargetResolver): org.apache.spark.sql.DataFrame = {
    val st = parseStatement(s)
    // try_cast like condition(): a non-boolean where-value is a
    // non-match (error_mode ignore), not an ANSI CAST_INVALID_INPUT crash
    val cond = st.where
      .map(w => coalesce(compileExpr(w, resolve).try_cast("boolean"), lit(false)))
      .getOrElse(lit(true))
    def targetPath(i: Int): Path = st.args(i) match {
      case p: Path => p
      case other => throw new IllegalArgumentException(
        s"${st.editor}: argument ${i + 1} must be a path, got $other")
    }
    def strLit(i: Int): String = st.args(i) match {
      case Lit(v: String) => v
      case other => throw new IllegalArgumentException(
        s"${st.editor}: argument ${i + 1} must be a string literal, got $other")
    }
    def intLit(i: Int): Int = st.args(i) match {
      case Lit(v: Long) => v.toInt
      case other => throw new IllegalArgumentException(
        s"${st.editor}: argument ${i + 1} must be an int literal, got $other")
    }
    def strList(i: Int): Seq[String] = st.args(i) match {
      case EList(items) => items.map {
        case Lit(v: String) => v
        case other => throw new IllegalArgumentException(
          s"${st.editor}: list elements must be string literals, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"${st.editor}: argument ${i + 1} must be a list, got $other")
    }
    val (colName, mapKey) = targets(targetPath(0))
    // OTTL set() CREATES a missing attribute (pdata Map.PutStr upserts);
    // a brand-new top-level target starts as a null string so
    // `set(attributes["env"], "prod") where ...` introduces the column
    // (non-matching rows keep null) instead of throwing UNRESOLVED_COLUMN
    val current =
      if (df.columns.contains(colName)) col(colName)
      else lit(null).cast("string")
    // the rewritten value of the TARGET COLUMN when the condition holds
    val edited: Column = (st.editor, mapKey) match {
      case ("set", None) => compileExpr(st.args(1), resolve)
      case ("set", Some(k)) =>
        graft.functions.Ottl.setKey(current, k, compileExpr(st.args(1), resolve))
      case ("delete_key", None) => graft.functions.Ottl.deleteKey(current, strLit(1))
      case ("delete_matching_keys", None) =>
        graft.functions.Ottl.deleteMatchingKeys(current, strLit(1))
      case ("keep_keys", None) => graft.functions.Ottl.keepKeys(current, strList(1))
      case ("keep_matching_keys", None) =>
        graft.functions.Ottl.keepMatchingKeys(current, strLit(1))
      case ("truncate_all", None) => graft.functions.Ottl.truncateAll(current, intLit(1))
      case ("limit", None) => graft.functions.Ottl.limitMap(current, intLit(1))
      case ("replace_pattern", None) =>
        graft.functions.Ottl.replacePattern(current, strLit(1), strLit(2))
      case ("replace_pattern", Some(k)) =>
        graft.functions.Ottl.setKey(current, k,
          graft.functions.Ottl.replacePattern(current.getItem(k), strLit(1), strLit(2)))
      case ("replace_match", None) =>
        graft.functions.Ottl.replaceMatch(current, strLit(1), strLit(2))
      case ("replace_all_patterns", None) =>
        graft.functions.Ottl.replaceAllPatterns(current, strLit(1), strLit(2))
      case (other, _) => throw new IllegalArgumentException(s"unknown editor: $other")
    }
    df.withColumn(colName, when(cond, edited).otherwise(current))
  }

  /** Apply a statement list in order (a transform-processor statements
    * block). */
  def applyStatements(df: org.apache.spark.sql.DataFrame, stmts: Seq[String],
                      resolve: Resolver, targets: TargetResolver): org.apache.spark.sql.DataFrame =
    stmts.foldLeft(df)((acc, s) => applyStatement(acc, s, resolve, targets))

  // ---------------- EXPR(...) string templates ----------------

  /** Stanza-style string template: literal text with embedded
    * `EXPR(expression)` segments (reference
    * `pkg/stanza/operator/helper/expr_string.go:29-88`). Compiles to a
    * `concat` of literal chunks and stringified sub-expressions.
    *
    * Null semantics are INTENTIONAL and reference-faithful: `concat`
    * nulls the whole rendered string when any segment is null — the
    * per-row analog of `Render` failing the ENTIRE template when a
    * sub-expression yields nil/non-string (expr_string.go:109-125)
    * under error_mode=ignore. (We are already more lenient than Go on
    * types: non-string segments cast to string instead of erroring.)
    * A caller wanting missing→empty wraps the attribute in a coalesce
    * inside the EXPR itself. */
  def template(s: String, resolve: Resolver): Column = {
    val parts = Seq.newBuilder[Column]
    var i = 0
    while (i < s.length) {
      val start = s.indexOf("EXPR(", i)
      if (start < 0) {
        parts += lit(s.substring(i)); i = s.length
      } else {
        if (start > i) parts += lit(s.substring(i, start))
        // find the matching close paren (strings may contain parens)
        var depth = 1
        var j = start + 5
        var inStr = false
        while (j < s.length && depth > 0) {
          s(j) match {
            // consume escape PAIRS like the real lexer: the previous
            // look-behind (`s(j-1) != '\\'`) misread a string ending in
            // an escaped backslash (`"a\\"`) as an escaped quote,
            // leaving inStr stuck and failing a well-formed template
            case '\\' if inStr && j + 1 < s.length => j += 1
            case '"' => inStr = !inStr
            case '(' if !inStr => depth += 1
            case ')' if !inStr => depth -= 1
            case _ =>
          }
          j += 1
        }
        if (depth > 0) throw ExprParseException("unterminated EXPR(", start)
        parts += value(s.substring(start + 5, j - 1), resolve).cast("string")
        i = j
      }
    }
    concat(parts.result(): _*)
  }

  // ---------------- default transcript-context resolver ----------------

  /** Path resolution over the transcripts frame (OTTL log-context style):
    * `body` → the raw text column; `attributes["k"]` / `attributes.k` →
    * parsed-field map lookup when `k` is a parse-bank field, else the
    * top-level column; `resource.attributes["k"]` → top-level column;
    * bare/dotted names → column (+ struct fields). */
  def transcriptResolver(parsedFields: Set[String]): Resolver = {
    case Path(Seq(PathSeg("body", Nil))) => col("text")
    case Path(Seq(PathSeg("attributes", Seq(Left(k))))) =>
      if (parsedFields(k)) col("parsed").getItem(k) else col(k)
    case Path(Seq(PathSeg("attributes", Nil), PathSeg(k, Nil))) =>
      if (parsedFields(k)) col("parsed").getItem(k) else col(k)
    case Path(Seq(PathSeg("resource", Nil), PathSeg("attributes", Seq(Left(k))))) => col(k)
    case Path(segs) =>
      val base = col(segs.head.name)
      val afterKeys = segs.head.keys.foldLeft(base) {
        case (acc, Left(k)) => acc.getItem(k)
        case (acc, Right(idx)) => acc.getItem(idx.toInt)
      }
      segs.tail.foldLeft(afterKeys) { (acc, seg) =>
        val named = acc.getField(seg.name)
        seg.keys.foldLeft(named) {
          case (a, Left(k)) => a.getItem(k)
          case (a, Right(idx)) => a.getItem(idx.toInt)
        }
      }
  }
}
