package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ArtifactStore

/** Synthesize a FULL 10× corpus — every table, not just documents —
  * so the WHOLE 257-query suite can be benched at 10× sf0.1 and a
  * full-suite scaling point committed beside bench.json (round-8
  * verdict #8; ScaleProbe covers ten hand-picked heavy rows, this
  * covers everything else).
  *
  * Replication discipline (k = 0..9 tagged replicas, the ScaleProbe
  * argument extended to the relational schema): scale must be the
  * ONLY variable, so within-replica structure is preserved exactly
  * and nothing joins/pairs across replicas.
  *
  *  - **dimensions** (region, nation): kept 1× — they are fixed
  *    domains (5/25 rows at every TPC-H SF), and the fact tables'
  *    nationkeys keep referencing them.
  *  - **keyed facts** (customer, supplier, part, orders, lineitem,
  *    events): every key column shifts by k·N (N = max(key)+1 of its
  *    home table), with FOREIGN keys shifted by the SAME rule — so
  *    replica k's lineitem joins replica k's orders/part/supplier and
  *    nobody else's, and referential integrity holds at 10×.
  *    Per-user / per-order group sizes stay constant (user_id shifts
  *    too), so windows see 10× more groups, never 10×-deeper ones —
  *    the way real growth behaves.
  *  - **documents**: ScaleProbe's vocabulary-disjoint token tagging
  *    (injective token map per replica — near-dup structure preserved
  *    within, impossible across).
  *  - **embeddings**: vec_id shifts; the vector is ROTATED by k
  *    positions (norm-preserving, so cosine structure within a
  *    replica is exact; across replicas vectors land in different
  *    LSH cells like genuinely new data, instead of 10 exact copies
  *    stacking every bucket 10 deep).
  *
  * Built once ([[ArtifactStore.once]]) under the source corpus's
  * artifact root; prints the dir for the bench driver:
  * `SPARK_GRAFT_SF_DIR=$(runMain graft.tools.TenX) runMain graft.Bench`.
  */
object TenX {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1

  /** `copies` replicas of `df`, with each column in `shifts` shifted
    * by k·(its modulus). */
  private def shifted(df: DataFrame, copies: Int,
      shifts: Seq[(String, Long)]): DataFrame = {
    val tagged = df.withColumn("k",
      explode(sequence(lit(0L), lit(copies - 1L))))
    val out = shifts.foldLeft(tagged) { case (d, (c, n)) =>
      d.withColumn(c, col(c) + col("k") * n)
    }
    out.select(df.columns.map(col).toSeq: _*)
  }

  def build(spark: SparkSession, srcDir: String, copies: Int = 10): String =
    ArtifactStore.once(spark,
      ArtifactStore.corpusDir(s"tenx$copies", srcDir, srcDir))(
      replicateInto(spark, srcDir, copies, _))

  private def replicateInto(spark: SparkSession, srcDir: String,
      copies: Int, out: String): Unit = {
    def t(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // dimensions ride unchanged
    Seq("region", "nation").foreach(n => write(t(n), n))

    val nc = maxOf(t("customer"), "c_custkey")
    val ns = maxOf(t("supplier"), "s_suppkey")
    val np = maxOf(t("part"), "p_partkey")
    val no = maxOf(t("orders"), "o_orderkey")
    val ne = maxOf(t("events"), "event_id")
    val nu = maxOf(t("events"), "user_id")
    val nv = maxOf(t("embeddings"), "vec_id")
    val nd = maxOf(t("documents"), "doc_id")

    write(shifted(t("customer"), copies, Seq("c_custkey" -> nc)), "customer")
    write(shifted(t("supplier"), copies, Seq("s_suppkey" -> ns)), "supplier")
    write(shifted(t("part"), copies, Seq("p_partkey" -> np)), "part")
    write(shifted(t("orders"), copies,
      Seq("o_orderkey" -> no, "o_custkey" -> nc)), "orders")
    write(shifted(t("lineitem"), copies,
      Seq("l_orderkey" -> no, "l_partkey" -> np, "l_suppkey" -> ns)),
      "lineitem")
    write(shifted(t("events"), copies,
      Seq("event_id" -> ne, "user_id" -> nu)), "events")
    write(ScaleProbe.replicate(t("documents"), copies, nd), "documents")

    // embeddings: shift the id, rotate the vector by k (element_at is
    // 1-based; modular index keeps the norm and within-replica angles)
    val emb = t("embeddings")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val rot = emb
      .withColumn("k", explode(sequence(lit(0L), lit(copies - 1L))))
      .select(
        (col("vec_id") + col("k") * nv).as("vec_id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => element_at(col("embedding"),
            (pmod(i + col("k"), lit(d)) + 1).cast("int"))).as("embedding"),
        col("label"))
    write(rot, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(cpus.toInt, 32)
    val out = build(spark, src)
    println(s"TENX_DIR=$out")
    spark.stop()
  }
}
