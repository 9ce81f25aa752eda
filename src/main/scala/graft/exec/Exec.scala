package graft.exec

import graft.core.{Graph, QValue}
import graft.path.Path
import graft.shape.{LocalEval, LocalResult, LocalTable, Lower, Shape}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Finals / collation — the chain-driver analog
  * (/root/reference/graph/iterator/iterate.go): turn a working set into
  * values / tag maps / result DataFrames. Two implementations, one
  * semantics: [[SparkResults]] over a lowered DataFrame (the distributed
  * engine) and [[LocalResults]] over a driver-local working set (the
  * interactive fast path); `Exec.run` picks per graph/shape.
  */
sealed trait Results {
  /** Top-level result values (AllValues, iterate.go). */
  def values(): Seq[QValue]

  /** Values bound to one tag across all paths (TagEach). `keepEmpty`
    * substitutes `""` for rows without the tag (pathtest runTag).
    */
  def tagValues(tag: String, keepEmpty: Boolean = false): Seq[QValue]

  /** All tag bindings per path row (TagEach with all tags). */
  def tagMaps(includeTopLevel: Boolean = false): Seq[Map[String, QValue]]

  def count(): Long

  /** Distributed finals: resolve id-valued columns to their scalar payload
    * and return a DataFrame (see [[SparkResults.payloadDF]]).
    */
  def payloadDF(mapping: (String, String)*): DataFrame

  /** The working set as a DataFrame (pre-resolved for Count results). */
  def df: DataFrame
}

final class SparkResults(g: Graph, val df: DataFrame) extends Results {
  import Lower.{ID, TagPrefix, tagCol}

  private def isPreResolved: Boolean = df.columns.contains("kind")

  /** Resolve one id column to values, preserving row order via a
    * monotonic ordinal (orderBy survives the dictionary join).
    */
  private def resolveCol(colName: String): Seq[Option[QValue]] = {
    // alias-qualified: the working set often derives from the dictionary
    val ordered = df.withColumn("__ord", monotonically_increasing_id())
      .alias("__rl")
    val n = g.nodes.alias("__rr")
    val joined = ordered
      .join(n, col("__rl." + colName) === col("__rr.id"), "left")
      .select(col("__rl.__ord"), col("__rr.kind"), col("__rr.s"),
        col("__rr.i"), col("__rr.d"), col("__rr.b"), col("__rr.t"),
        col("__rr.lang"), col("__rr.dt"))
      .orderBy("__ord")
    joined.collect().toSeq.map { r =>
      if (r.isNullAt(1)) None else Some(decode(r, 1))
    }
  }

  /** The value whose dictionary fields (kind, s, i, d, b, t, lang, dt)
    * start at column `at` of `r`; nullable fields arrive boxed or null.
    */
  private def decode(r: Row, at: Int): QValue =
    QValue.fromFields(r.getInt(at), r.getString(at + 1),
      r.get(at + 2).asInstanceOf[java.lang.Long],
      r.get(at + 3).asInstanceOf[java.lang.Double],
      r.get(at + 4).asInstanceOf[java.lang.Boolean],
      r.get(at + 5).asInstanceOf[java.lang.Long],
      r.getString(at + 6), r.getString(at + 7))

  private def preResolvedValues(): Seq[QValue] =
    df.select(col("kind"), col("s"), col("i"), col("d"), col("b"), col("t"),
      col("lang"), col("dt")).collect().toSeq.map(decode(_, 0))

  /** Top-level result values (AllValues, iterate.go). */
  def values(): Seq[QValue] =
    if (isPreResolved) preResolvedValues()
    else resolveCol(ID).flatten

  /** Values bound to one tag across all paths (TagEach). `keepEmpty`
    * substitutes `""` for rows without the tag (pathtest runTag).
    */
  def tagValues(tag: String, keepEmpty: Boolean = false): Seq[QValue] = {
    val c = tagCol(tag)
    val ic = Lower.intTagCol(tag)
    if (df.columns.contains(ic)) {
      // depth tags hold raw Long values, not dictionary ids
      df.select(col(ic)).collect().toSeq.map {
        case r if r.isNullAt(0) => QValue.Str("")
        case r                  => QValue.IntV(r.getLong(0))
      } match {
        case vs if keepEmpty => vs
        case vs => vs.filterNot(_ == QValue.Str(""))
      }
    } else if (!df.columns.contains(c)) {
      if (keepEmpty) Seq.fill(df.count().toInt)(QValue.Str("")) else Nil
    } else {
      val vs = resolveCol(c)
      if (keepEmpty) vs.map(_.getOrElse(QValue.Str(""))) else vs.flatten
    }
  }

  /** All tag bindings per path row (TagEach with all tags). All columns
    * resolve in ONE job — per-column jobs would observe different row
    * orders and scramble tag bindings across rows.
    */
  def tagMaps(includeTopLevel: Boolean = false): Seq[Map[String, QValue]] = {
    // (physical column, display name, holds raw Long value?)
    val cols = (if (includeTopLevel) Seq((ID, ID, false)) else Nil) ++
      Lower.tagCols(df).map(c => (c, Lower.decodeTag(c), Lower.isIntTagCol(c)))
    var cur = df
    val outCols = cols.zipWithIndex.map { case ((c, _, isInt), idx) =>
      if (isInt) c
      else {
        val a = s"__rc$idx"
        val dict = g.nodes.select(col("id").as(s"${a}_id"),
          struct(col("kind"), col("s"), col("i"), col("d"), col("b"), col("t"),
            col("lang"), col("dt")).as(s"${a}_v"))
        cur = cur.alias(s"${a}_l")
          .join(dict.alias(s"${a}_r"),
            col(s"${a}_l.$c") === col(s"${a}_r.${a}_id"), "left")
          .drop(s"${a}_id")
        s"${a}_v"
      }
    }
    val rows = cur.select(outCols.map(col): _*).collect()
    rows.toSeq.map { r =>
      cols.zipWithIndex.flatMap { case ((_, name, isInt), idx) =>
        if (r.isNullAt(idx)) None
        else if (isInt) Some(name -> QValue.IntV(r.getLong(idx)))
        else Some(name -> decode(r.getStruct(idx), 0))
      }.toMap
    }
  }

  def count(): Long = df.count()

  /** Distributed finals: resolve id-valued columns to their scalar payload
    * (strings for IRI/BNode/text kinds, decimal string for numerics, ISO
    * for time) and return a DataFrame — used by Verify where results
    * must not be collected to the driver. `mapping` = (column in the
    * working set → output name); the working-set column may be `id` or a
    * tag column (pass the raw tag name via `Lower.tagCol`).
    */
  def payloadDF(mapping: (String, String)*): DataFrame = {
    import graft.core.Kind
    val strKinds = Seq(Kind.Iri, Kind.BNode, Kind.Str, Kind.LangStr,
      Kind.TypedStr).map(Integer.valueOf)
    def payload(kind: Column, s: Column, i: Column, d: Column, b: Column,
                t: Column): Column =
      when(kind.isin(strKinds: _*), s)
        .when(kind === Kind.IntK, i.cast("string"))
        .when(kind === Kind.FloatK, d.cast("string"))
        .when(kind === Kind.BoolK, b.cast("string"))
        .when(kind === Kind.TimeK,
          date_format((t.cast("double") / 1000000.0d).cast("timestamp"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
    var cur = df
    mapping.zipWithIndex.foreach { case ((c, out), idx) =>
      if (Lower.isIntTagCol(c)) {
        cur = cur.withColumn(out, col(c).cast("string"))
      } else {
        val a = s"__pay$idx"
        val dict = g.nodes.select(col("id").as(s"${a}_id"),
          payload(col("kind"), col("s"), col("i"), col("d"), col("b"),
            col("t")).as(out))
        cur = cur.alias(s"${a}_l")
          .join(dict.alias(s"${a}_r"),
            col(s"${a}_l.$c") === col(s"${a}_r.${a}_id"), "left")
          .drop(s"${a}_id")
      }
    }
    cur.select(mapping.map { case (_, out) => col(out) }: _*)
  }
}

/** Finals over a locally-evaluated working set (graft.shape.LocalEval) —
  * the same contracts as [[SparkResults]], resolved against the in-memory
  * dictionary instead of a join. `payloadDF`/`df` synthesize small
  * DataFrames so downstream consumers are oblivious to which engine ran.
  */
final class LocalResults(g: Graph, res: LocalResult) extends Results {
  import Lower.{ID, intTagCol, tagCol}
  import graft.core.Kind

  private def idx = res.idx

  private def table: LocalTable =
    res.table.getOrElse(throw new IllegalStateException("count result"))

  private def resolve(id: java.lang.Long): Option[QValue] =
    if (id == null) None
    else Option(idx.node(id)).map(_.toQValue)

  def values(): Seq[QValue] = res.countValue match {
    case Some(n) => Seq(QValue.IntV(n)) // pre-resolved Count (Lower.scala:160)
    case None =>
      val at = table.colIdx(ID)
      table.rows.flatMap(r => resolve(r(at)))
  }

  def tagValues(tag: String, keepEmpty: Boolean = false): Seq[QValue] =
    res.countValue match {
      case Some(_) => // one pre-resolved row, no tag columns
        if (keepEmpty) Seq(QValue.Str("")) else Nil
      case None =>
        val t = table
        val ic = t.colIdx(intTagCol(tag))
        val c = t.colIdx(tagCol(tag))
        if (ic >= 0) {
          val vs = t.rows.map { r =>
            if (r(ic) == null) QValue.Str("") else QValue.IntV(r(ic))
          }
          if (keepEmpty) vs else vs.filterNot(_ == QValue.Str(""))
        } else if (c < 0) {
          if (keepEmpty) Seq.fill(t.rows.size)(QValue.Str("")) else Nil
        } else {
          val vs = t.rows.map(r => resolve(r(c)))
          if (keepEmpty) vs.map(_.getOrElse(QValue.Str(""))) else vs.flatten
        }
    }

  def tagMaps(includeTopLevel: Boolean = false): Seq[Map[String, QValue]] =
    res.countValue match {
      case Some(_) => Seq(Map.empty)
      case None =>
        val t = table
        val cols = (if (includeTopLevel) Vector(ID) else Vector.empty) ++ t.tagCols
        val spec = cols.map(c => (t.colIdx(c),
          if (c == ID) ID else Lower.decodeTag(c), Lower.isIntTagCol(c)))
        t.rows.map { r =>
          spec.flatMap { case (at, name, isInt) =>
            if (r(at) == null) None
            else if (isInt) Some(name -> QValue.IntV(r(at)))
            else resolve(r(at)).map(name -> _)
          }.toMap
        }
    }

  def count(): Long =
    res.countValue.map(_ => 1L).getOrElse(table.rows.size.toLong)

  def payloadDF(mapping: (String, String)*): DataFrame =
    res.countValue match {
      case Some(_) => new SparkResults(g, df).payloadDF(mapping: _*)
      case None =>
        // scalar payload rendering — same when-chain as
        // SparkResults.payloadDF (strings for ref/text kinds, cast-style
        // renderings for numerics/bool, ISO micros for time)
        def payload(n: graft.shape.LocalNode): String = n.kind match {
          case Kind.Iri | Kind.BNode | Kind.Str | Kind.LangStr |
               Kind.TypedStr => n.s
          case Kind.IntK   => if (n.i == null) null else n.i.toString
          case Kind.FloatK => if (n.d == null) null else n.d.toString
          case Kind.BoolK  => if (n.b == null) null else n.b.toString
          case Kind.TimeK  =>
            if (n.t == null) null else QValue.TimeV.iso(n.t)
          case _ => null
        }
        val t = table
        val out = t.rows.map { r =>
          org.apache.spark.sql.Row.fromSeq(mapping.map { case (c, _) =>
            val at = t.colIdx(c)
            if (at < 0 || r(at) == null) null
            else if (Lower.isIntTagCol(c)) r(at).toString
            else {
              val n = idx.node(r(at))
              if (n == null) null else payload(n)
            }
          })
        }
        val schema = StructType(mapping.map { case (_, name) =>
          StructField(name, StringType, nullable = true)
        })
        import scala.jdk.CollectionConverters._
        g.spark.createDataFrame(new java.util.ArrayList(out.asJava), schema)
    }

  lazy val df: DataFrame = {
    import scala.jdk.CollectionConverters._
    res.countValue match {
      case Some(n) => // the pre-resolved Count schema (Lower.scala:160-168)
        val schema = StructType(Seq(
          StructField("kind", IntegerType, nullable = false),
          StructField("s", StringType, nullable = true),
          StructField("i", LongType, nullable = true),
          StructField("d", DoubleType, nullable = true),
          StructField("b", BooleanType, nullable = true),
          StructField("t", LongType, nullable = true),
          StructField("lang", StringType, nullable = true),
          StructField("dt", StringType, nullable = true)))
        val row = org.apache.spark.sql.Row(
          Kind.IntK, null, n, null, null, null, null, null)
        g.spark.createDataFrame(
          java.util.Collections.singletonList(row), schema)
      case None =>
        val t = table
        val schema = StructType(t.cols.map(c =>
          StructField(c, LongType, nullable = true)))
        val rows = t.rows.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toIndexedSeq))
        g.spark.createDataFrame(new java.util.ArrayList(rows.asJava), schema)
    }
  }
}

/** Query execution entry: Path/Shape → optimized Shape → working set.
  * Graphs that carry a local-index cap (`Graph.interactive`, set by
  * `HttpApi` on every served store) and are under it get the
  * driver-local fast path when the shape supports it; everything else
  * lowers to a DataFrame plan for Catalyst.
  */
object Exec {
  def lower(g: Graph, s: Shape): DataFrame = new Lower(g)(s)
  def run(g: Graph, p: Path): Results = run(g, p.shape())
  def run(g: Graph, s: Shape): Results =
    LocalEval.tryRun(g, s) match {
      case Some(r) => new LocalResults(g, r)
      case None    => new SparkResults(g, lower(g, s))
    }
}
