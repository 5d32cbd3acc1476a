package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the SCALING.md sweep: replicates the driver's
  * sf0.1 tables `factor`× into a new directory so the sweep can extend to
  * sf1 (the driver only ships sf0.001/0.01/0.1). NOT test input — the
  * oracle-checked queries always run on the driver's own parquet; this data
  * exists only to measure time-vs-data growth one decade further.
  *
  * Replication strategy (mirrors how the driver's own sf ladder grows):
  *   - dims (`region`, `nation`) stay fixed;
  *   - fact tables get `factor` copies with every key column shifted by
  *     `copy * (max_key + 1)` so referential integrity holds within each
  *     copy and key cardinality grows linearly;
  *   - `documents.text` is materially perturbed per copy (every 2nd word
  *     replaced by a deterministic hash token) so copies land around
  *     word-Jaccard ≈ 0.33 — BELOW every near-dup threshold in the dedup
  *     queries. A naive byte-copy would turn each doc into an artificial
  *     10-clique and measure pair-explosion, not data growth;
  *   - `embeddings` get a per-copy cyclic dimension ROTATION for the same
  *     reason: a small additive jitter would leave copy-vs-base cosine
  *     ≈ 0.97 — above every near-dup threshold — while a rotation keeps the
  *     norm and value distribution exactly and decorrelates the direction,
  *     so near-dup/ANN growth comes from corpus size, not planted cliques.
  * All perturbation is `hash()`-seeded from (id, copy, position) — fully
  * deterministic, no RNG.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.localSession(cpus, "WARN")
    try generate(spark, srcDir, outDir, factor)
    finally spark.stop()
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def writeDim(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[genscale] $t -> $outDir/$t.parquet")
    }
    // Fact tables fan out to one file per core: the driver's single-file
    // sf ladder leaves each scaled table as ONE file with ONE row group,
    // which caps every downstream scan at one task no matter the core
    // count — the opposite of real large data, where a table is thousands
    // of row groups and scan parallelism is free. Multi-file output makes
    // the sweep measure data growth, not an artificial scan serialization.
    def write(t: String, df: DataFrame): Unit =
      writeDim(t, df.repartition(spark.sparkContext.defaultParallelism))

    // dims: copy through unchanged
    Seq("region", "nation").foreach(t => writeDim(t, read(t)))

    /** One row per (source row × copy), `copy` in [0, factor). */
    def explodeCopies(df: DataFrame): DataFrame =
      df.withColumn("copy", explode(lit((0 until factor).toArray)))

    /** Shift `cols` by copy * (max+1) of the GOVERNING key column so FK
      * edges stay aligned across tables (e.g. o_custkey shifts by
      * customer's stride, not orders').
      */
    def stride(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head.getLong(0) + 1L

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")

    val cStride = stride(customer, "c_custkey")
    val sStride = stride(supplier, "s_suppkey")
    val pStride = stride(part, "p_partkey")
    val oStride = stride(orders, "o_orderkey")
    val eStride = stride(events, "event_id")
    val uStride = events.agg(max(col("user_id"))).head.getLong(0) + 1L
    val dStride = stride(documents, "doc_id")
    val vStride = stride(embeddings, "vec_id")

    def shifted(c: String, s: Long) = (col(c) + col("copy") * s).as(c)

    write("customer", explodeCopies(customer).select(
      shifted("c_custkey", cStride), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))

    write("supplier", explodeCopies(supplier).select(
      shifted("s_suppkey", sStride), col("s_name"), col("s_nationkey"), col("s_acctbal")))

    write("part", explodeCopies(part).select(
      shifted("p_partkey", pStride), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))

    write("orders", explodeCopies(orders).select(
      shifted("o_orderkey", oStride), shifted("o_custkey", cStride),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))

    write("lineitem", explodeCopies(lineitem).select(
      shifted("l_orderkey", oStride), shifted("l_partkey", pStride),
      shifted("l_suppkey", sStride), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    write("events", explodeCopies(events).select(
      shifted("event_id", eStride), col("ts"), shifted("user_id", uStride),
      col("event_type"), col("value"), col("props")))

    // documents: copy 0 verbatim; copies >0 replace every 2nd word with a
    // hash token keyed on (doc_id, copy, word index) — deterministic, and
    // far enough from the original (word-Jaccard ≈ 1/3) that no near-dup
    // threshold in the workload fires across copies.
    val perturbedText = when(col("copy") === 0, col("text")).otherwise(
      array_join(
        zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(i % 2 === 0, w)
            .otherwise(concat(lit("w"),
              pmod(hash(col("doc_id"), col("copy"), i), lit(10000)).cast("string")))),
        " "))
    write("documents", explodeCopies(documents)
      .withColumn("text2", perturbedText)
      .select(
        shifted("doc_id", dStride), col("text2").as("text"), col("lang"),
        col("source"), length(col("text2")).cast("long").as("n_chars")))

    // embeddings: copy 0 verbatim; copies >0 rotate the dimensions by
    // copy*7 (coprime-ish with dim=64, so every copy lands on a distinct
    // rotation). cosine(v, rot(v)) ≈ 0 for high-dim data, so copies never
    // pair with their base in d4/d9/n* — corpus size is the only thing
    // that grows.
    val dims = size(col("embedding"))
    val rotated = when(col("copy") === 0, col("embedding")).otherwise(
      transform(
        sequence(lit(0), dims - 1),
        i => element_at(col("embedding"), pmod(i + col("copy") * 7, dims) + 1)))
    write("embeddings", explodeCopies(embeddings).select(
      shifted("vec_id", vStride), rotated.as("embedding"), col("label")))
  }
}
