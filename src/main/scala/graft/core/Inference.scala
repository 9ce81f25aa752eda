package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RDFS entailment (/root/reference/inference/inference.go implements
  * rules 1,2,3,5,6,8,10,11 as an in-memory store; here the same rules —
  * plus the useful entailments 7 and 9 — run as a batch closure
  * materialization over the quad table, the Spark-native formulation:
  * inferred quads are unioned in once, so queries need no query-time
  * expansion).
  */
object Inference {
  private val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val RDFS = "http://www.w3.org/2000/01/rdf-schema#"

  val TypeIri = QValue.Iri(RDF + "type")
  val PropertyIri = QValue.Iri(RDF + "Property")
  val SubClassOf = QValue.Iri(RDFS + "subClassOf")
  val SubPropertyOf = QValue.Iri(RDFS + "subPropertyOf")
  val DomainIri = QValue.Iri(RDFS + "domain")
  val RangeIri = QValue.Iri(RDFS + "range")
  val ClassIri = QValue.Iri(RDFS + "Class")
  val ResourceIri = QValue.Iri(RDFS + "Resource")

  private val vocab = Seq(TypeIri, PropertyIri, SubClassOf, SubPropertyOf,
    DomainIri, RangeIri, ClassIri, ResourceIri)

  /** Driver-side transitive closure (BFS per source) — schema relations
    * (subClassOf/subPropertyOf) are small by construction; data-scale
    * recursion stays distributed (Lower.recursive).
    */
  private def closurePairs(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    adj.keys.flatMap { src =>
      val seen = scala.collection.mutable.Set.empty[Long]
      var frontier = adj.getOrElse(src, Set.empty)
      while (frontier.nonEmpty) {
        val fresh = frontier -- seen
        seen ++= fresh
        frontier = fresh.flatMap(n => adj.getOrElse(n, Set.empty))
      }
      seen.map(src -> _)
    }.toSeq
  }

  /** Returns the graph with RDFS-entailed quads materialized (deduped). */
  def rdfsClosure(g: Graph): Graph = {
    val id = (v: QValue) => lit(QValue.id(v))
    val q = g.quads
    def newQuads(df: DataFrame): DataFrame =
      df.withColumn("l", lit(null).cast("long")).select("s", "p", "o", "l")

    // 1. (x p y) -> (p type Property)
    val r1 = newQuads(q.select(col("p").as("s")).distinct()
      .withColumn("p", id(TypeIri)).withColumn("o", id(PropertyIri)))
    // 2/3. domain/range -> (x|y type c)
    val domains = q.where(col("p") === id(DomainIri))
      .select(col("s").as("prop"), col("o").as("cls"))
    val ranges = q.where(col("p") === id(RangeIri))
      .select(col("s").as("prop"), col("o").as("cls"))
    val r2 = newQuads(q.alias("q").join(domains.alias("d"), col("q.p") === col("d.prop"))
      .select(col("q.s").as("s"), id(TypeIri).as("p"), col("d.cls").as("o")))
    val r3 = newQuads(q.alias("q").join(ranges.alias("r"), col("q.p") === col("r.prop"))
      .select(col("q.o").as("s"), id(TypeIri).as("p"), col("r.cls").as("o")))

    // 5/11. transitive subPropertyOf / subClassOf. The closure is over
    // SCHEMA relations (small by construction), so it materializes to a
    // clean driver-built frame — broadcastable in the entailment joins.
    val spark0 = g.spark
    import spark0.implicits._
    def smallClosure(relIri: QValue): DataFrame = {
      val base = q.where(col("p") === id(relIri))
        .select(col("s").as("a"), col("o").as("b"))
        .as[(Long, Long)].collect().toSeq
      spark0.createDataset(closurePairs(base)).toDF("a", "b")
    }
    val subProp = smallClosure(SubPropertyOf)
    val subCls = smallClosure(SubClassOf)
    val r5 = newQuads(subProp.select(col("a").as("s"),
      id(SubPropertyOf).as("p"), col("b").as("o")))
    val r11 = newQuads(subCls.select(col("a").as("s"),
      id(SubClassOf).as("p"), col("b").as("o")))

    // 6. (p type Property) -> (p subPropertyOf p)
    val props = q.where(col("p") === id(TypeIri) && col("o") === id(PropertyIri))
      .select("s").unionByName(q.select(col("p").as("s"))).distinct()
    val r6 = newQuads(props.select(col("s"), id(SubPropertyOf).as("p"),
      col("s").as("o")))
    // 8/10. (c type Class) -> (c subClassOf Resource), (c subClassOf c)
    val classes = q.where(col("p") === id(TypeIri) && col("o") === id(ClassIri))
      .select("s")
    val r8 = newQuads(classes.select(col("s"), id(SubClassOf).as("p"),
      id(ResourceIri).as("o")))
    val r10 = newQuads(classes.select(col("s"), id(SubClassOf).as("p"),
      col("s").as("o")))
    // 7. (p subPropertyOf q), (x p y) -> (x q y)
    val r7 = newQuads(q.alias("q").join(subProp.alias("sp"), col("q.p") === col("sp.a"))
      .select(col("q.s").as("s"), col("sp.b").as("p"), col("q.o").as("o")))
    // 9. (c subClassOf d), (x type c) -> (x type d) — over asserted AND
    // domain/range-inferred types (rules 2/3 feed rule 9)
    val types = q.where(col("p") === id(TypeIri))
      .select(col("s").as("x"), col("o").as("c"))
      .unionByName(r2.select(col("s").as("x"), col("o").as("c")))
      .unionByName(r3.select(col("s").as("x"), col("o").as("c")))
    val r9 = newQuads(types.alias("t").join(subCls.alias("sc"), col("t.c") === col("sc.a"))
      .select(col("t.x").as("s"), id(TypeIri).as("p"), col("sc.b").as("o")))

    val inferred = Seq(r1, r2, r3, r5, r6, r7, r8, r9, r10, r11)
      .reduce(_ unionByName _)
    val allQuads = g.quads.unionByName(inferred)
      .dropDuplicates(Seq("s", "p", "o", "l"))

    // vocabulary nodes may be new to the dictionary
    val vocabNodes = spark0.createDataset(vocab.map(QV(_))).toDF()
      .select(Values.idColOfFields(col).as("id"), col("*"))
      .withColumn("sk", Values.sortKeyCol(col))
      .select(g.nodes.columns.toIndexedSeq.map(col): _*)
    Graph(g.nodes.unionByName(vocabNodes).dropDuplicates("id"), allQuads)
  }

  /** RemoveNode (writer/single.go:84-114): drop a value and every quad
    * referencing it; see [[Graph.removeNode]].
    */
  def removeNode(g: Graph, v: QValue): Graph = g.removeNode(QValue.id(v))
}
