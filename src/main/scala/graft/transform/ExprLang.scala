package graft.transform

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** The transform expression language: the Lua-expression subset the
  * reference exposes in `--transform "col=expr; ..."` and script mode
  * (`/root/reference/src/transformer.rs:105-279`; function surface
  * README.md:566-571), compiled to Catalyst Column expressions instead
  * of a per-row interpreter.
  *
  * This is the engine's single biggest win over the reference: because
  * transforms become declarative expressions, Catalyst gives predicate
  * pushdown, column pruning and whole-stage codegen for free (SURVEY §4.1).
  *
  * Supported surface (everything exercised by the reference's README and
  * examples): `row.col` / `row['col']`, literals, arithmetic `+ - * / %`,
  * concat `..`, comparisons `== ~= < <= > >=`, `and/or/not` (including
  * the `cond and x or y` ternary idiom), `string.upper/lower/len/sub/
  * format/match/gsub/find/rep/reverse`, method-call sugar `s:upper()`,
  * `math.floor/ceil/abs/sqrt/max/min`, `tonumber`, `tostring`.
  */
object ExprLang {

  // ----------------------------- AST -----------------------------------

  sealed trait Node
  final case class NumLit(raw: String) extends Node {
    def isInt: Boolean = !raw.exists(c => c == '.' || c == 'e' || c == 'E')
  }
  final case class StrLit(v: String) extends Node
  final case class BoolLit(v: Boolean) extends Node
  case object NilLit extends Node
  /** row.colname / row['colname'] */
  final case class ColRef(name: String) extends Node
  /** bare identifier — a script-mode local or a namespace head */
  final case class Ident(name: String) extends Node
  final case class Unary(op: String, e: Node) extends Node
  final case class Binary(op: String, l: Node, r: Node) extends Node
  /** path like string.upper / math.floor / tonumber, applied to args */
  final case class Call(path: List[String], args: List[Node]) extends Node

  final case class ParseError(msg: String) extends IllegalArgumentException(msg)

  // --------------------------- tokenizer -------------------------------

  private sealed trait Tok
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TName(s: String) extends Tok
  private case class TOp(s: String) extends Tok
  private case object TEof extends Tok

  private def tokenize(src: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > start &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        toks += TNum(src.substring(start, i))
      } else if (c == '\'' || c == '"') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        while (i < n && src.charAt(i) != quote) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            src.charAt(i + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'
              case 'r' => sb += '\r'; case other => sb += other
            }
            i += 2
          } else { sb += ch; i += 1 }
        }
        if (i >= n) throw ParseError(s"unterminated string in: $src")
        i += 1
        toks += TStr(sb.toString)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        toks += TName(src.substring(start, i))
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (two == ".." || two == "==" || two == "~=" || two == "<=" || two == ">=") {
          toks += TOp(two); i += 2
        } else {
          toks += TOp(c.toString); i += 1
        }
      }
    }
    toks += TEof
    toks.result()
  }

  // ---------------------------- parser ---------------------------------

  private final class Parser(toks: Vector[Tok], src: String) {
    private var pos = 0
    private def peek: Tok = toks(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expectOp(op: String): Unit = next() match {
      case TOp(`op`) => ()
      case other => throw ParseError(s"expected '$op', got $other in: $src")
    }

    // precedence (Lua): or < and < cmp < .. < +- < */% < unary < postfix
    def parseExpr(): Node = parseOr()
    def atEnd: Boolean = peek == TEof

    private def parseOr(): Node = {
      var l = parseAnd()
      while (peek == TName("or")) { next(); l = Binary("or", l, parseAnd()) }
      l
    }
    private def parseAnd(): Node = {
      var l = parseCmp()
      while (peek == TName("and")) { next(); l = Binary("and", l, parseCmp()) }
      l
    }
    private def parseCmp(): Node = {
      var l = parseConcat()
      var go = true
      while (go) peek match {
        case TOp(op @ ("==" | "~=" | "<" | "<=" | ">" | ">=")) =>
          next(); l = Binary(op, l, parseConcat())
        case _ => go = false
      }
      l
    }
    private def parseConcat(): Node = {
      val l = parseAdd()
      peek match {
        case TOp("..") => next(); Binary("..", l, parseConcat()) // right-assoc
        case _ => l
      }
    }
    private def parseAdd(): Node = {
      var l = parseMul()
      var go = true
      while (go) peek match {
        case TOp(op @ ("+" | "-")) => next(); l = Binary(op, l, parseMul())
        case _ => go = false
      }
      l
    }
    private def parseMul(): Node = {
      var l = parseUnary()
      var go = true
      while (go) peek match {
        case TOp(op @ ("*" | "/" | "%")) => next(); l = Binary(op, l, parseUnary())
        case _ => go = false
      }
      l
    }
    private def parseUnary(): Node = peek match {
      case TOp("-")     => next(); Unary("-", parseUnary())
      case TName("not") => next(); Unary("not", parseUnary())
      case TOp("#")     => next(); Unary("#", parseUnary())
      case _            => parsePostfix()
    }

    private def parsePostfix(): Node = {
      var e = parsePrimary()
      var go = true
      while (go) peek match {
        case TOp(".") =>
          next()
          val name = next() match {
            case TName(s) => s
            case other => throw ParseError(s"expected name after '.', got $other")
          }
          e = e match {
            case Ident("row")  => ColRef(name)
            case Ident(ns)     => Ident(s"$ns.$name") // string.upper etc.
            case _ => throw ParseError(s"unexpected '.' access on $e")
          }
        case TOp("[") =>
          next()
          val idx = parseExpr()
          expectOp("]")
          e = (e, idx) match {
            case (Ident("row"), StrLit(s)) => ColRef(s)
            case _ => throw ParseError("only row['col'] indexing supported")
          }
        case TOp(":") =>
          next()
          val m = next() match {
            case TName(s) => s
            case other => throw ParseError(s"expected method name, got $other")
          }
          expectOp("(")
          val args = parseArgs()
          e = Call(List("string", m), e :: args)
        case TOp("(") =>
          next()
          val args = parseArgs()
          e = e match {
            case Ident(path) => Call(path.split('.').toList, args)
            case _ => throw ParseError(s"cannot call $e")
          }
        case _ => go = false
      }
      e
    }

    private def parseArgs(): List[Node] = {
      if (peek == TOp(")")) { next(); return Nil }
      val args = scala.collection.mutable.ListBuffer(parseExpr())
      while (peek == TOp(",")) { next(); args += parseExpr() }
      expectOp(")")
      args.toList
    }

    private def parsePrimary(): Node = next() match {
      case TNum(s)        => NumLit(s)
      case TStr(s)        => StrLit(s)
      case TName("true")  => BoolLit(true)
      case TName("false") => BoolLit(false)
      case TName("nil")   => NilLit
      case TName(s)       => Ident(s)
      case TOp("(")       => val e = parseExpr(); expectOp(")"); e
      case other          => throw ParseError(s"unexpected $other in: $src")
    }
  }

  def parse(src: String): Node = {
    val p = new Parser(tokenize(src), src)
    val e = p.parseExpr()
    if (!p.atEnd) throw ParseError(s"trailing tokens in: $src")
    e
  }

  // ------------------------- Column translation ------------------------

  /** Does this node evaluate to a Lua boolean? Drives truthiness rules. */
  private def isBooleanish(n: Node): Boolean = n match {
    case BoolLit(_)                 => true
    case Binary("and" | "or", l, r) => isBooleanish(l) && isBooleanish(r)
    case Binary(op, _, _)           => Set("==", "~=", "<", "<=", ">", ">=")(op)
    case Unary("not", _)            => true
    case _                          => false
  }

  /** Lua truthiness: false/nil are falsy, everything else truthy. A
    * boolean-valued column coalesces NULL→false (a nil-ish comparison is
    * falsy, it must not read as "non-nil therefore truthy"). */
  private def truthy(n: Node, c: Column): Column =
    if (isBooleanish(n)) coalesce(c, lit(false)) else c.isNotNull

  import org.apache.spark.sql.types.{DataType, NumericType}

  /** Best-effort static type of a node given the input schema — used so
    * integer arithmetic stays integral (Lua semantics) and only
    * dynamically-typed operands get the lenient try_cast. */
  private def nodeType(n: Node, schema: Map[String, DataType],
                       localTypes: Map[String, Option[DataType]]): Option[DataType] = {
    def go(n: Node): Option[DataType] = n match {
      case l: NumLit     => Some(if (l.isInt) LongType else DoubleType)
      case StrLit(_)     => Some(StringType)
      case BoolLit(_)    => Some(org.apache.spark.sql.types.BooleanType)
      case ColRef(name)  => schema.get(name)
      case Ident(name)   => localTypes.getOrElse(name, None)
      case Unary("-", e) => go(e)
      case Unary("#", _) => Some(LongType)
      case Binary("/", _, _) => Some(DoubleType)
      case Binary("+" | "-" | "*" | "%", l, r) =>
        (go(l), go(r)) match {
          case (Some(a: NumericType), Some(b: NumericType)) =>
            if (a == DoubleType || b == DoubleType ||
              a.isInstanceOf[org.apache.spark.sql.types.DecimalType] ||
              b.isInstanceOf[org.apache.spark.sql.types.DecimalType]) Some(DoubleType)
            else Some(LongType)
          case _ => None
        }
      case Binary("..", _, _) => Some(StringType)
      case _ => None
    }
    go(n)
  }

  private def isNumeric(t: Option[DataType]): Boolean =
    t.exists(_.isInstanceOf[NumericType])

  /** Compile an AST to a Column. `locals` resolves script-mode names;
    * `schema` (col name → Spark type) enables Lua-parity numeric rules. */
  def toColumn(node: Node, locals: Map[String, Column] = Map.empty,
               schema: Map[String, DataType] = Map.empty,
               localTypes: Map[String, Option[DataType]] = Map.empty): Column = {
    def go(n: Node): Column = n match {
      case NumLit(raw) =>
        if (NumLit(raw).isInt) lit(raw.toLong) else lit(raw.toDouble)
      case StrLit(s)   => lit(s)
      case BoolLit(b)  => lit(b)
      case NilLit      => lit(null)
      case ColRef(name) => col(s"`$name`")
      case Ident(name) =>
        locals.getOrElse(name,
          throw ParseError(s"unknown name '$name' (use row.$name for columns)"))

      case Unary("-", e)   => negate(go(e))
      case Unary("not", e) => !truthy(e, go(e))
      case Unary("#", e)   => length(go(e)).cast(LongType)

      case Binary("..", l, r) =>
        concat(go(l).cast(StringType), go(r).cast(StringType))
      case Binary("+", l, r) => asNum(l) + asNum(r)
      case Binary("-", l, r) => asNum(l) - asNum(r)
      case Binary("*", l, r) => asNum(l) * asNum(r)
      case Binary("/", l, r) => asNum(l).cast(DoubleType) / asNum(r).cast(DoubleType)
      case Binary("%", l, r) =>
        // Lua % is FLOORED modulo (result takes the divisor's sign):
        // -7 % 3 == 2, 7 % -3 == -2. Spark's % truncates toward zero, so
        // wrap: ((a % b) + b) % b — algebraically equal to a-floor(a/b)*b
        // for both signs and stays integral for integer operands.
        val a = asNum(l); val b = asNum(r)
        ((a % b) + b) % b
      case Binary("==", l, r) => go(l) === go(r)
      case Binary("~=", l, r) => go(l) =!= go(r)
      case Binary("<", l, r)  => go(l) < go(r)
      case Binary("<=", l, r) => go(l) <= go(r)
      case Binary(">", l, r)  => go(l) > go(r)
      case Binary(">=", l, r) => go(l) >= go(r)

      // `cond and x or y` ternary (README.md:475,609) and general and/or
      case Binary("or", Binary("and", c, x), y) if !isBooleanish(x) =>
        when(truthy(c, go(c)), go(x)).otherwise(go(y))
      case Binary("and", l, r) =>
        if (isBooleanish(l) && isBooleanish(r)) go(l) && go(r)
        else when(truthy(l, go(l)), go(r)) // Lua: l and r → r if l truthy else nil-ish
      case Binary("or", l, r) =>
        if (isBooleanish(l) && isBooleanish(r)) go(l) || go(r)
        else coalesce(go(l), go(r)) // Lua: l or r → l if truthy else r

      case Call(path, args) => call(path, args)
      case other => throw ParseError(s"cannot compile $other")
    }

    // Lua arithmetic auto-coerces numeric strings (`row.age + 1` works
    // when age arrived as a string); try_cast replicates leniently, but
    // statically-numeric operands keep their type (int math stays int).
    def asNum(n: Node): Column = {
      val c = go(n)
      if (isNumeric(nodeType(n, schema, localTypes))) c else c.try_cast(DoubleType)
    }

    def call(path: List[String], args: List[Node]): Column = {
      def a(i: Int): Column = go(args(i))
      (path, args.length) match {
        case (List("string", "upper"), 1) => upper(a(0))
        case (List("string", "lower"), 1) => lower(a(0))
        case (List("string", "len"), 1)   => length(a(0)).cast(LongType)
        case (List("string", "reverse"), 1) => reverse(a(0))
        case (List("string", "rep"), 2)   => repeat(a(0), a(1).cast("int"))
        case (List("string", "sub"), 2)   => a(0).substr(a(1).cast("int"), lit(Int.MaxValue))
        case (List("string", "sub"), 3) =>
          // Lua sub(s, i, j) is inclusive end-index; substr takes length.
          (args(1), args(2)) match {
            case (NumLit(i), NumLit(j)) if i.toDouble > 0 && j.toDouble >= 0 =>
              val len = j.toInt - i.toInt + 1
              a(0).substr(lit(i.toInt), lit(math.max(len, 0)))
            case (_, NumLit(j)) if j == "-1" =>
              a(0).substr(a(1).cast("int"), lit(Int.MaxValue))
            case _ =>
              val i = a(1).cast("int"); val j = a(2).cast("int")
              a(0).substr(i, j - i + lit(1))
          }
        case (List("string", "format"), n) if n >= 1 =>
          format_string(args.head match {
            case StrLit(s) => s
            case _ => throw ParseError("string.format needs a literal format")
          }, args.tail.map(go): _*)
        case (List("string", "match"), 2) =>
          luaMatch(a(0), litStr(args(1), "string.match pattern"))
        case (List("string", "gsub"), 3) =>
          regexp_replace(a(0),
            lit(LuaPatterns.toRegex(litStr(args(1), "gsub pattern"))),
            lit(LuaPatterns.replacement(litStr(args(2), "gsub replacement"))))
        case (List("string", "find"), 2) =>
          val re = LuaPatterns.toRegex(litStr(args(1), "string.find pattern"))
          val pos = regexp_instr(a(0), lit(re))
          when(pos > 0, pos.cast(LongType)) // nil (null) when not found
        case (List("math", "floor"), 1) => floor(asNum(args(0))).cast(LongType)
        case (List("math", "ceil"), 1)  => ceil(asNum(args(0))).cast(LongType)
        case (List("math", "abs"), 1)   => abs(asNum(args(0)))
        case (List("math", "sqrt"), 1)  => sqrt(asNum(args(0)))
        case (List("math", "max"), n) if n >= 2 => greatest(args.map(asNum): _*)
        case (List("math", "min"), n) if n >= 2 => least(args.map(asNum): _*)
        case (List("tonumber"), 1) => a(0).try_cast(DoubleType)
        case (List("tostring"), 1) => a(0).cast(StringType)
        case _ =>
          throw ParseError(s"unsupported function ${path.mkString(".")}/${args.length}")
      }
    }

    def litStr(n: Node, what: String): String = n match {
      case StrLit(s) => s
      case _ => throw ParseError(s"$what must be a string literal")
    }

    def luaMatch(s: Column, luaPat: String): Column = {
      val re = LuaPatterns.toRegex(luaPat)
      val group = if (LuaPatterns.captureCount(luaPat) > 0) 1 else 0
      // Lua returns nil on no-match; regexp_extract returns "" — guard.
      when(s.rlike(re), regexp_extract(s, re, group))
    }

    go(node)
  }

  /** Parse + compile one expression. */
  def compile(src: String, locals: Map[String, Column] = Map.empty,
              schema: Map[String, DataType] = Map.empty,
              localTypes: Map[String, Option[DataType]] = Map.empty): Column =
    toColumn(parse(src), locals, schema, localTypes)

  /** Compile as a filter predicate with Lua truthiness: a non-boolean
    * result keeps the row iff non-nil (transformer.rs:340-357).
    * Truthiness recurses through and/or/not — `row.age and row.age < 18`
    * is truthy iff age is non-nil AND the comparison holds; the naive
    * "whole expression non-null" reading would call it truthy whenever
    * age exists, regardless of the comparison. */
  def compilePredicate(src: String, schema: Map[String, DataType] = Map.empty,
                       locals: Map[String, Column] = Map.empty): Column =
    compileTruthy(parse(src), locals, schema)

  private def compileTruthy(n: Node, locals: Map[String, Column],
                            schema: Map[String, DataType],
                            localTypes: Map[String, Option[DataType]] = Map.empty): Column =
    n match {
      case Binary("and", l, r) =>
        compileTruthy(l, locals, schema, localTypes) &&
          compileTruthy(r, locals, schema, localTypes)
      case Binary("or", l, r) =>
        compileTruthy(l, locals, schema, localTypes) ||
          compileTruthy(r, locals, schema, localTypes)
      case Unary("not", e) => !compileTruthy(e, locals, schema, localTypes)
      case BoolLit(b)      => lit(b)
      case NilLit          => lit(false)
      case _ =>
        val c = toColumn(n, locals, schema, localTypes)
        if (isBooleanish(n)) coalesce(c, lit(false)) else c.isNotNull
    }
}
