package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.types.TypeMapper

/** Table registry for the llamadb front end: name → DataFrame.
  *
  * Two table kinds coexist:
  *   - *registered* external data (parquet/Delta-backed DataFrames —
  *     the 100 TB path; INSERT INTO these appends via the DataFrame
  *     writer when they are path-backed),
  *   - *managed* in-memory tables from CREATE TABLE + INSERT VALUES
  *     (literal rows are inherently driver-sized; the reference's whole
  *     DB is this kind, `src/tempdb/`).
  *
  * Reference semantics enforced on the managed path (SURVEY.md §1.4,
  * §3.2): opt-in nullability (NULL constraint), NULL-into-NOT-NULL is an
  * error, missing INSERT columns take type defaults, NaN is rejected
  * (f64nonan.rs), identifiers are lowercased.
  *
  * UPDATE / DELETE run only on managed tables, through [[rewriteRows]]:
  * one collected projection carries the rewritten rows and a matched
  * flag per row, so a statement over a buffered table starts no Spark
  * job and the matched count comes from the same pass.
  */
class Catalog(spark: SparkSession) {

  case class CatalogError(msg: String) extends RuntimeException(msg)

  /** Managed-table storage: a driver-side row buffer (the reference's
    * whole DB is literal INSERT VALUES rows — inherently driver-sized),
    * turned into a DataFrame lazily. Buffering instead of per-INSERT
    * `union` keeps a 3,500-statement script O(rows), not a 3,500-deep
    * union plan; `extra` holds INSERT..SELECT appends (arbitrary plans)
    * as one union branch each. */
  private class Managed(val schema: StructType,
                        val fixedLens: Map[String, Int] = Map.empty) {
    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    var extra: Option[DataFrame] = None
    private var cached: Option[DataFrame] = None
    def invalidate(): Unit = cached = None
    def df(spark: SparkSession): DataFrame = cached.getOrElse {
      val base = spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      val d = extra.fold(base)(base.union)
      cached = Some(d)
      d
    }
  }

  private val managed = scala.collection.mutable.Map[String, Managed]()
  private val registered = scala.collection.mutable.Map[String, DataFrame]()

  /** Register external data (e.g. a parquet table) under a name. */
  def register(name: String, df: DataFrame): Unit =
    registered(name.toLowerCase) = df

  def table(name: String): DataFrame = {
    val n = name.toLowerCase
    managed.get(n).map(_.df(spark))
      .orElse(registered.get(n))
      .getOrElse(throw CatalogError(s"table '$n' does not exist"))
  }

  def exists(name: String): Boolean = {
    val n = name.toLowerCase
    managed.contains(n) || registered.contains(n)
  }

  def schemaOf(name: String): StructType = table(name).schema

  /** CREATE TABLE: columns are NOT NULL unless the NULL constraint is
    * present (reference `tempdb/mod.rs:154-198`). */
  def createTable(name: String, cols: Seq[(String, String, Boolean)]): Unit = {
    val n = name.toLowerCase
    if (exists(n)) throw CatalogError(s"table '$n' already exists")
    val fields = cols.map { case (cname, tname, nullable) =>
      StructField(cname.toLowerCase, TypeMapper.toSpark(tname), nullable)
    }
    val fixedLens = cols.flatMap { case (cname, tname, _) =>
      TypeMapper.fixedByteLength(tname).map(cname.toLowerCase -> _)
    }.toMap
    val schema = StructType(fields)
    managed(n) = new Managed(schema, fixedLens)
  }

  /** INSERT evaluated-values into a managed table. `rows` are already
    * evaluated to Scala values aligned with `columns`; missing columns
    * take type defaults, NULL into NOT NULL errors, NaN is rejected. */
  def insertRows(name: String, columns: Seq[String],
                 rows: Seq[Seq[Any]]): Long = {
    val n = name.toLowerCase
    val m = managed.getOrElse(n,
      throw CatalogError(
        s"table '$n' is not a managed table (INSERT VALUES target)"))
    val schema = m.schema
    val colIdx: Map[String, Int] =
      schema.fieldNames.zipWithIndex.map { case (f, i) => (f, i) }.toMap
    val targetCols =
      if (columns.isEmpty) schema.fieldNames.toSeq
      else columns.map(_.toLowerCase)
    targetCols.foreach { c =>
      if (!colIdx.contains(c))
        throw CatalogError(s"column '$c' does not exist in table '$n'")
    }
    val fullRows = rows.map { vals =>
      if (vals.length != targetCols.length)
        throw CatalogError(
          s"INSERT arity mismatch: ${targetCols.length} columns, " +
          s"${vals.length} values")
      val arr = new Array[Any](schema.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        arr(i) = m.fixedLens.get(f.name) match {
          // byte[N] default is N zero bytes, not the dynamic empty value
          case Some(len) if !f.nullable => Array.fill[Byte](len)(0)
          case _ => TypeMapper.defaultValue(f.dataType, f.nullable)
        }
      }
      targetCols.zip(vals).foreach { case (c, v) =>
        val i = colIdx(c)
        val f = schema(i)
        val coerced = coerce(v, f.dataType, f.name)
        if (coerced == null && !f.nullable)
          throw CatalogError(
            s"cannot insert NULL into non-nullable column '${f.name}'")
        // reference enforces byte[N] length at insert (variant.rs:88-94)
        (m.fixedLens.get(f.name), coerced) match {
          case (Some(len), b: Array[Byte]) if b.length != len =>
            throw CatalogError(
              s"value of length ${b.length} does not fit byte[$len] " +
              s"column '${f.name}'")
          case _ => ()
        }
        arr(i) = coerced
      }
      Row.fromSeq(arr.toIndexedSeq)
    }
    m.rows ++= fullRows
    m.invalidate()
    rows.length.toLong
  }

  /** UPDATE / DELETE on a managed table (beyond-reference DML, SURVEY
    * §2.4) as one pass: `df` is the table's rows, rewritten by the
    * statement, each followed by a boolean "matched" flag. The rows are
    * collected once; every row is kept for UPDATE (`dropMatched =
    * false`), only the unflagged rows for DELETE. Over a buffered table
    * the frame is a projection of a local relation, which the optimizer
    * evaluates on the driver, so the statement starts no Spark job; a
    * table with INSERT..SELECT branches takes one collect job. A kept
    * NULL in a NOT NULL column fails the statement before anything is
    * installed, so the table is unchanged. Returns the matched count. */
  def rewriteRows(name: String, df: DataFrame, dropMatched: Boolean): Long = {
    val n = name.toLowerCase
    val m = managed.getOrElse(n,
      throw CatalogError(s"table '$n' is not a managed table (DML target)"))
    val width = m.schema.length
    val newRows = scala.collection.mutable.ArrayBuffer[Row]()
    var matched = 0L
    df.collect().foreach { r =>
      val hit = r.getBoolean(width)
      if (hit) matched += 1
      if (!(hit && dropMatched)) {
        m.schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!f.nullable && r.isNullAt(i))
            throw CatalogError(
              s"cannot store NULL into non-nullable column '${f.name}'")
        }
        newRows += Row.fromSeq(r.toSeq.take(width))
      }
    }
    m.rows.clear()
    m.rows ++= newRows
    m.extra = None
    m.invalidate()
    matched
  }

  /** INSERT INTO ... SELECT: append a DataFrame (schema aligned by
    * position, cast to the target types). Parsed-but-unimplemented in
    * the reference (`tempdb/mod.rs:279`) — implemented here. */
  def insertSelect(name: String, df: DataFrame): Long = {
    val n = name.toLowerCase
    val m = managed.getOrElse(n,
      throw CatalogError(s"table '$n' is not a managed table"))
    val schema = m.schema
    if (df.schema.length != schema.length)
      throw CatalogError(
        s"INSERT SELECT arity mismatch: table has ${schema.length} " +
        s"columns, query yields ${df.schema.length}")
    val aligned = df.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name)
          .cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val count = aligned.count()
    m.extra = Some(m.extra.fold(aligned)(_.union(aligned)))
    m.invalidate()
    count
  }

  /** Reference NaN rejection (`f64nonan.rs`) + light literal coercion
    * into the declared column type. */
  private def coerce(v: Any, dt: DataType, colName: String): Any = v match {
    case null => null
    case d: Double if d.isNaN =>
      throw CatalogError(s"NaN is not storable (column '$colName')")
    case _ =>
      (v, dt) match {
        case (x: Long, ByteType)    => x.toByte
        case (x: Long, ShortType)   => x.toShort
        case (x: Long, IntegerType) => x.toInt
        case (x: Long, LongType)    => x
        case (x: Long, DoubleType)  => x.toDouble
        case (x: Long, _: DecimalType) => java.math.BigDecimal.valueOf(x)
        case (x: Double, DoubleType) => x
        case (x: Double, _: DecimalType) => java.math.BigDecimal.valueOf(x)
        case (x: Double, t) if t.isInstanceOf[NumericType] =>
          // float→int truncates in the reference (variant.rs:193-246)
          t match {
            case ByteType => x.toByte; case ShortType => x.toShort
            case IntegerType => x.toInt; case LongType => x.toLong
            case _ => x
          }
        case (s: String, StringType) => s
        case (s: String, BinaryType) => s.getBytes("UTF-8")
        case (s: String, t: NumericType) =>
          // string→number cast; failure would be a NULL in the reference
          try {
            t match {
              case DoubleType => s.toDouble
              case LongType => s.toLong
              case IntegerType => s.toInt
              case ShortType => s.toShort
              case ByteType => s.toByte
              case _ => s
            }
          } catch { case _: NumberFormatException => null }
        case (other, _) => other
      }
  }
}
