package graft.sqlfront

import Lexer._
import Ast._

/** Recursive-descent parser for the llamadb dialect, with the reference's
  * precedence-climbing expression parser (`src/sqlsyntax/parser/mod.rs:
  * 185-246`): `* /` bind tightest (5), then `+ - & | ||` (4), comparisons
  * (3), AND (2), OR (1); all left-associative.
  *
  * Statements: SELECT (FROM comma-list + INNER/LEFT JOIN ... ON, WHERE,
  * GROUP BY, HAVING, and — beyond the reference's executed surface —
  * ORDER BY / LIMIT), CREATE TABLE, INSERT VALUES / INSERT SELECT,
  * EXPLAIN SELECT.
  */
class Parser(tokens: Vector[Token]) {
  private var pos = 0

  case class ParseError(msg: String) extends RuntimeException(msg)

  private def peek: Token = tokens(pos)
  private def next(): Token = { val t = tokens(pos); pos += 1; t }
  private def expectOp(sym: String): Unit = next() match {
    case Op(`sym`) => ()
    case t => throw ParseError(s"expected '$sym', found $t")
  }
  private def expectKw(word: String): Unit = next() match {
    case Kw(`word`) => ()
    case t => throw ParseError(s"expected $word, found $t")
  }
  private def acceptKw(word: String): Boolean = peek match {
    case Kw(`word`) => pos += 1; true
    case _ => false
  }
  private def acceptOp(sym: String): Boolean = peek match {
    case Op(`sym`) => pos += 1; true
    case _ => false
  }
  private def ident(): String = next() match {
    case Id(name) => name
    case t => throw ParseError(s"expected identifier, found $t")
  }

  /** Table name in a statement position. The reference grammar accepts
    * `database.table` but every execution path panics on a database
    * qualifier (`tempdb/mod.rs:155` unimplemented!) — surface that as a
    * clean parse error instead. */
  private def tableName(): String = {
    val name = ident()
    if (acceptOp(".")) {
      val t = ident()
      throw ParseError(
        s"database-qualified table name '$name.$t' is not supported")
    }
    name
  }

  // ---- expressions (precedence climbing) ------------------------------

  private val precedence: Map[String, Int] = Map(
    "*" -> 5, "/" -> 5,
    "+" -> 4, "-" -> 4, "&" -> 4, "|" -> 4, "||" -> 4,
    "=" -> 3, "<>" -> 3, "<" -> 3, "<=" -> 3, ">" -> 3, ">=" -> 3,
    "AND" -> 2, "OR" -> 1)

  def expression(minPrec: Int = 1): Expr = {
    var lhs = unary()
    var done = false
    while (!done) {
      val opOpt = peek match {
        case Op(sym) if precedence.contains(sym) => Some(sym)
        case Kw("AND") => Some("AND")
        case Kw("OR")  => Some("OR")
        case _ => None
      }
      opOpt match {
        case Some(op) if precedence(op) >= minPrec =>
          next()
          val rhs = expression(precedence(op) + 1) // left-assoc
          lhs = Binary(op, lhs, rhs)
        case _ => done = true
      }
    }
    lhs
  }

  private def unary(): Expr = peek match {
    case Op("-") => next(); Unary("-", unary())
    case Op("+") => next(); unary() // no-op, reference parser/mod.rs:249-253
    case _ => atom()
  }

  private def atom(): Expr = next() match {
    case Str(s)  => StringLit(s)
    case Num(t)  => NumberLit(t)
    case Kw("NULL") => NullLit
    case Op("(") =>
      val e = peek match {
        case Kw("SELECT") => Subquery(select())
        case _ => expression()
      }
      expectOp(")")
      e
    case Id(name) =>
      peek match {
        case Op("(") => // function call
          next()
          if (name == "count" && acceptOp("*")) {
            expectOp(")"); CountAll
          } else {
            val args = Vector.newBuilder[Expr]
            if (!acceptOp(")")) {
              args += expression()
              while (acceptOp(",")) args += expression()
              expectOp(")")
            }
            FnCall(name, args.result())
          }
        case Op(".") =>
          next()
          QualifiedIdent(name, ident())
        case _ => Ident(name)
      }
    case Op("?") =>
      // the reference lexes `?` (sqlsyntax/lexer.rs:39) but has no
      // parse or execute path for prepared statements — mirror that
      // surface with an explicit, actionable error
      throw ParseError(
        "prepared-statement placeholder '?' is not executable " +
        "(token-only in the reference); bind values before submitting")
    case t => throw ParseError(s"unexpected token $t in expression")
  }

  // ---- SELECT ----------------------------------------------------------

  def select(): Select = {
    expectKw("SELECT")
    val distinct = acceptKw("DISTINCT")
    val items = Vector.newBuilder[SelectItem]
    def selectItem(): SelectItem =
      if (acceptOp("*")) Wildcard
      else {
        val e = expression()
        val alias = if (acceptKw("AS")) Some(ident())
          else peek match { // bare alias (reference allows it)
            case Id(a) => pos += 1; Some(a)
            case _ => None
          }
        ExprItem(e, alias)
      }
    items += selectItem()
    while (acceptOp(",")) items += selectItem()

    var from = Vector.empty[TableRef]
    var joins = Vector.empty[Join]
    if (acceptKw("FROM")) {
      def tableRef(): TableRef = {
        if (acceptOp("(")) {
          val s = select()
          expectOp(")")
          val alias = if (acceptKw("AS")) Some(ident())
            else peek match { case Id(a) => pos += 1; Some(a); case _ => None }
          DerivedTable(s, alias)
        } else {
          val name = tableName()
          val alias = if (acceptKw("AS")) Some(ident())
            else peek match { case Id(a) => pos += 1; Some(a); case _ => None }
          NamedTable(name, alias)
        }
      }
      from = from :+ tableRef()
      var more = true
      while (more) {
        if (acceptOp(",")) from = from :+ tableRef()
        else {
          // [INNER] JOIN | LEFT [OUTER] JOIN ... ON expr
          val kind: Option[JoinKind] =
            if (acceptKw("JOIN")) Some(InnerJoin)
            else if (acceptKw("INNER")) { expectKw("JOIN"); Some(InnerJoin) }
            else if (acceptKw("LEFT")) {
              acceptKw("OUTER"); expectKw("JOIN"); Some(LeftJoin)
            } else None
          kind match {
            case Some(k) =>
              val t = tableRef()
              expectKw("ON")
              joins = joins :+ Join(k, t, expression())
            case None => more = false
          }
        }
      }
    }

    val where = if (acceptKw("WHERE")) Some(expression()) else None
    var groupBy = Vector.empty[Expr]
    if (acceptKw("GROUP")) {
      expectKw("BY")
      groupBy = groupBy :+ expression()
      while (acceptOp(",")) groupBy = groupBy :+ expression()
    }
    val having = if (acceptKw("HAVING")) Some(expression()) else None
    var orderBy = Vector.empty[OrderItem]
    if (acceptKw("ORDER")) {
      expectKw("BY")
      def orderItem(): OrderItem = {
        val e = expression()
        val desc = if (acceptKw("DESC")) true else { acceptKw("ASC"); false }
        OrderItem(e, desc)
      }
      orderBy = orderBy :+ orderItem()
      while (acceptOp(",")) orderBy = orderBy :+ orderItem()
    }
    val limit = if (acceptKw("LIMIT")) next() match {
      case Num(t) => Some(t.toLong)
      case t => throw ParseError(s"expected number after LIMIT, found $t")
    } else None

    Select(items.result(), from, joins, where, groupBy, having,
           orderBy, limit, distinct)
  }

  // ---- statements -------------------------------------------------------

  def statement(): Statement = {
    val stmt = statementCore()
    acceptOp(";")
    peek match {
      case EOF => stmt
      case t => throw ParseError(s"trailing input after statement: $t")
    }
  }

  /** All `;`-separated statements of a script (the reference REPL's
    * execute-at-each-semicolon loop, `cli/src/main.rs:55-63`, done in
    * one parse pass). */
  def script(): Vector[Statement] = {
    val out = Vector.newBuilder[Statement]
    while (peek != EOF) {
      out += statementCore()
      while (acceptOp(";")) {} // tolerate empty statements
    }
    out.result()
  }

  private def statementCore(): Statement = {
    val stmt = peek match {
      case Kw("SELECT") => SelectStmt(select())
      case Kw("EXPLAIN") => next(); Explain(select())
      case Kw("CREATE") =>
        next(); expectKw("TABLE")
        val name = tableName()
        expectOp("(")
        val cols = Vector.newBuilder[ColumnDef]
        def columnDef(): ColumnDef = {
          val cname = ident()
          // type name: ident with optional [N]/[] suffix (byte[16],
          // byte[]) or parenthesized size (VARCHAR(n))
          val tname = ident()
          val tfull = if (acceptOp("(")) {
            val sz = next() match {
              case Num(t) => t
              case t => throw ParseError(s"expected size, found $t")
            }
            expectOp(")")
            s"$tname($sz)"
          } else if (acceptOp("[")) {
            val sz = peek match {
              case Num(t) => pos += 1; t
              case _ => ""
            }
            expectOp("]")
            s"$tname[$sz]"
          } else tname
          // constraints: only NULL is honored (opt-in nullability,
          // reference tempdb/mod.rs:176-178); NOT NULL accepted as no-op
          var nullable = false
          var scanning = true
          while (scanning) {
            if (acceptKw("NULL")) nullable = true
            else if (acceptKw("NOT")) expectKw("NULL") // explicit NOT NULL
            else scanning = false
          }
          ColumnDef(cname, tfull, nullable)
        }
        cols += columnDef()
        while (acceptOp(",")) cols += columnDef()
        expectOp(")")
        CreateTable(name, cols.result())
      case Kw("INSERT") =>
        next(); expectKw("INTO")
        val table = tableName()
        var columns = Vector.empty[String]
        if (acceptOp("(")) {
          columns = columns :+ ident()
          while (acceptOp(",")) columns = columns :+ ident()
          expectOp(")")
        }
        if (acceptKw("VALUES")) {
          val rows = Vector.newBuilder[Seq[Expr]]
          def row(): Seq[Expr] = {
            expectOp("(")
            val vs = Vector.newBuilder[Expr]
            vs += expression()
            while (acceptOp(",")) vs += expression()
            expectOp(")")
            vs.result()
          }
          rows += row()
          while (acceptOp(",")) rows += row()
          InsertValues(table, columns, rows.result())
        } else {
          InsertSelect(table, columns, select())
        }
      case Kw("UPDATE") =>
        next()
        val table = tableName()
        expectKw("SET")
        val sets = Vector.newBuilder[(String, Expr)]
        def assignment(): (String, Expr) = {
          val c = ident(); expectOp("="); (c, expression())
        }
        sets += assignment()
        while (acceptOp(",")) sets += assignment()
        val where = if (acceptKw("WHERE")) Some(expression()) else None
        Update(table, sets.result(), where)
      case Kw("DELETE") =>
        next(); expectKw("FROM")
        val table = tableName()
        val where = if (acceptKw("WHERE")) Some(expression()) else None
        Delete(table, where)
      case t => throw ParseError(s"unexpected token $t at statement start")
    }
    stmt
  }
}

object Parser {
  def parse(sql: String): Ast.Statement =
    new Parser(Lexer.tokenize(sql)).statement()
  def parseScript(sql: String): Vector[Ast.Statement] =
    new Parser(Lexer.tokenize(sql)).script()
}
