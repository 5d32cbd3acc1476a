package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means (Lloyd 1982, "Least squares quantization in
  * PCM") in FIXED-POINT INTEGER arithmetic — the corpus-curation operator
  * (topic bucketing / cluster balancing a la the cluster-then-sample
  * treatments in web-corpus pipelines) run AS Lloyd iterations on the
  * cluster, unlike quantizer training ([[Similarity]]) where a bounded
  * driver-side sample is the published FAISS practice.
  *
  * Same design charter as [[Graph]]: float k-means sums in shuffle order,
  * so two runs (or two engines) disagree in the last ulps and ties flip;
  * quantizing every coordinate to an integer (`floor((x + 1) * Q)`, the
  * +1 offset keeps values positive so truncating integer division agrees
  * across engines) makes the assignment argmin, the tie-break, and the
  * centroid mean all bit-exact on ANY partitioning — the property the
  * DuckDB oracle grade rests on.
  *
  * Spark-first shape, per Lloyd round:
  *   1. ASSIGN — a pure projection over the (localCheckpoint'd) point
  *      table: the k centroids are a driver-held k×dim integer array
  *      (bounded, exactly like [[Graph]] keeps node-sized state) folded
  *      into the plan as array literals, so the argmin is `least` over k
  *      packed `zip_with`/`aggregate` distance expressions — broadcast by
  *      construction, no join, no shuffle.
  *   2. UPDATE — ONE k-row aggregate: `groupBy(cluster)` with a count and
  *      `dim` per-coordinate sums (partial map-side aggregation does the
  *      heavy lifting; only k×(dim+1) longs cross the wire), means taken
  *      on the driver with truncating division.
  * Per round that is a single job with a single k-sized exchange —
  * `iters` rounds at 100 TB scan the corpus `iters` times and shuffle
  * almost nothing, which is the optimal distributed Lloyd shape short of
  * mini-batching.
  *
  * Ties go to the LOWEST cluster id via the packed key `d2·64 + c`
  * (the g1/packedPairs trick); empty clusters keep their previous
  * centroid — both rules chosen because they are expressible identically
  * in ANSI SQL, so the oracle can unroll rounds as CTEs.
  */
object KMeans {

  /** Quantization scale: 6 fractional digits. With the +1 offset and the
    * |x| < 1 domain, coordinates land in [0, 2Q); a squared distance is
    * ≤ dim·(2Q)² = 64·4e12 ≈ 2.6e14, and the packed argmin key ≤ 1.7e16 —
    * both far inside Long. Per-cluster coordinate sums stay exact up to
    * ~4.6e12 member points per cluster; raise Q only with that bound in
    * hand.
    */
  val Q: Long = 1000000L

  /** Max clusters: the packed argmin key reserves 6 bits for the id. */
  val MaxK: Int = 64

  /** array<float|double> → array<long>, `floor((x + 1) * Q)`. The |x| < 1
    * domain is ENFORCED with raise_error (NaN fails the predicate and is
    * rejected too) — a silently saturated coordinate would corrupt every
    * downstream mean.
    */
  def quantize(emb: Column): Column =
    transform(emb, x =>
      when(abs(x) < lit(1.0),
        floor((x.cast("double") + lit(1.0)) * lit(Q.toDouble)).cast("long"))
        .otherwise(raise_error(lit(
          "kmeans.quantize: coordinate out of documented domain |x| < 1"))
          .cast("long")))

  /** Exact integer squared L2 distance between a quantized vector column
    * and one driver-held centroid, as a single fold expression.
    */
  private def dist2(q: Column, cent: Array[Long]): Column =
    aggregate(
      zip_with(q, typedLit(cent.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, d) => acc + d)

  /** Packed argmin `min(d2·64 + c)` over the k centroids — minimizes d2,
    * then cluster id (deterministic ties), in one `least`. Spark's
    * `least` requires ≥ 2 children, so the (legal) k = 1 case is the
    * single packed expression directly (review r19).
    */
  private def packedAssign(q: Column, cents: Seq[Array[Long]]): Column = {
    val packed = cents.zipWithIndex.map { case (c, i) =>
      dist2(q, c) * lit(MaxK.toLong) + lit(i.toLong)
    }
    if (packed.size == 1) packed.head else least(packed: _*)
  }

  /** The point table (`id`, `q`) pinned once: the loop scans it once
    * per round.
    */
  private def pin(points: DataFrame): DataFrame =
    points.select(col("id"), col("q")).localCheckpoint()

  /** The quantized vectors of the k LOWEST ids, read by name — a pinned
    * table may carry (q, id) in any order.
    */
  private def lowestIdSeeds(pts: DataFrame, k: Int): Seq[Array[Long]] = {
    require(k >= 1 && k <= MaxK, s"kmeans: k ($k) must be in [1, $MaxK]")
    val seedRows = pts.orderBy(col("id")).limit(k).collect()
    require(seedRows.length == k,
      s"kmeans: need at least k ($k) points, got ${seedRows.length}")
    seedRows.map(_.getAs[Seq[Long]]("q").toArray).toSeq
  }

  /** `iters` full Lloyd rounds (assign → update) over `points`
    * (`id: Long`, `q: array<long>` — see [[quantize]]), seeded with the
    * quantized vectors of the k LOWEST ids. Returns the final driver-held
    * centroids (cluster → coordinates) and the point table pinned for the
    * caller's final-assignment projection.
    */
  def lloyd(points: DataFrame, k: Int, iters: Int): (Seq[Array[Long]], DataFrame) = {
    val pts = pin(points)
    (lloydRounds(pts, lowestIdSeeds(pts, k), iters), pts)
  }

  /** Deterministic k-means++ seeding (Arthur & Vassilvitskii 2007,
    * "k-means++: The Advantages of Careful Seeding") in exact integers:
    * seed 1 is the lowest-id point's vector; each further seed is the
    * ARGMAX of the exact squared distance to the current seed set — the
    * D² rule with the sampling replaced by its mode, which keeps the
    * chain fully deterministic and replayable in ANSI SQL. Ties break by
    * md5(id) then id (the n15 ordering — uniform, engine-identical).
    * Lowest-id seeding is quality-blind (k adjacent ids can all land in
    * one dense region and cost real inertia at corpus scale); the
    * farthest-point chain spreads seeds across the data's diameter.
    *
    * Cost: k − 1 bounded driver rounds, each ONE top-1 aggregate over
    * the pinned point table (the [[packedAssign]] min-distance
    * projection + a TakeOrderedAndProject) — no shuffle beyond the
    * k-row reduce, exactly the [[lloyd]] round shape. `pts` must carry
    * (`id`, `q`) and be pinned by the caller.
    */
  def seedPlusPlus(pts: DataFrame, k: Int): Seq[Array[Long]] = {
    require(k >= 1 && k <= MaxK, s"kmeans: k ($k) must be in [1, $MaxK]")
    val first = pts.orderBy(col("id")).limit(1).collect()
    require(first.nonEmpty, "kmeans: need at least 1 point")
    var cents: Seq[Array[Long]] = Seq(first(0).getAs[Seq[Long]]("q").toArray)
    for (_ <- 2 to k) {
      val next = pts
        .withColumn("p", packedAssign(col("q"), cents))
        .withColumn("d2", expr(s"p div ${MaxK}L"))
        .orderBy(col("d2").desc, md5(col("id").cast("string")).asc,
          col("id").asc)
        .limit(1).select("q").collect()
      cents = cents :+ next(0).getSeq[Long](0).toArray
    }
    cents
  }

  /** `iters` assign→update rounds from explicit starting centroids —
    * the shared engine behind [[lloyd]] (lowest-id seeds) and
    * [[fitPlusPlus]] (D² seeds). Returns the final driver-held
    * centroids.
    */
  private def lloydRounds(pts: DataFrame, cents0: Seq[Array[Long]],
                          iters: Int): Seq[Array[Long]] = {
    require(iters >= 1, s"kmeans: iters ($iters) must be >= 1")
    var cents = cents0
    val dim = cents.head.length
    for (_ <- 1 to iters) {
      val sums = pts
        .withColumn("c", packedAssign(col("q"), cents) % lit(MaxK.toLong))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i => sum(col("q")(i)).as(s"s$i")): _*)
        .collect() // ≤ k rows of dim+2 longs — bounded driver state
      val updated = sums.map { r =>
        val n = r.getLong(1)
        r.getLong(0) -> Array.tabulate(dim)(i => r.getLong(i + 2) / n)
      }.toMap
      // empty cluster: keep the previous centroid (oracle-expressible)
      cents = cents.zipWithIndex.map { case (old, i) =>
        updated.getOrElse(i.toLong, old)
      }
    }
    cents
  }

  /** Assignment of already-quantized rows (`id`, `q`) under driver-held
    * centroids: (`id`, `cluster`, `d2`), all exact integers. A pure
    * per-row projection — the SAME expression serves a batch partition
    * or a micro-batch (the st6/st8 train-offline/serve-online posture),
    * which is what makes the streaming serve (st17) ≡ the batch fit by
    * construction.
    */
  def assign(points: DataFrame, cents: Seq[Array[Long]]): DataFrame =
    points.withColumn("p", packedAssign(col("q"), cents))
      .select(col("id"),
        (col("p") % lit(MaxK.toLong)).as("cluster"),
        expr(s"p div ${MaxK}L").as("d2"))

  /** Lloyd + final assignment under the final centroids: (`id`,
    * `cluster`, `d2`) for every point, all exact integers.
    */
  def fit(points: DataFrame, k: Int, iters: Int): DataFrame =
    fitPinned(pin(points), k, iters)

  /** [[fit]] over an ALREADY-PINNED point table — the caller holds the
    * localCheckpoint, so two seedings can share ONE pin (a9).
    */
  private[graft] def fitPinned(pts: DataFrame, k: Int, iters: Int): DataFrame =
    assign(pts, lloydRounds(pts, lowestIdSeeds(pts, k), iters))

  /** [[fit]] with deterministic k-means++ seeding ([[seedPlusPlus]])
    * instead of lowest-id seeds: same Lloyd engine, same assignment,
    * better-spread starting centroids — the form a real corpus run
    * should use (a9 grades the inertia contrast against [[fit]]).
    */
  def fitPlusPlus(points: DataFrame, k: Int, iters: Int): DataFrame =
    fitPlusPlusPinned(pin(points), k, iters)

  /** [[fitPlusPlus]] over an already-pinned point table (see
    * [[fitPinned]]).
    */
  private[graft] def fitPlusPlusPinned(pts: DataFrame, k: Int,
                                       iters: Int): DataFrame = {
    // the same loud n >= k guard fit/lloyd enforce (review r20), on
    // DISTINCT vectors (ADVICE r20): with fewer than k distinct points the
    // D2 argmax chain would re-pick an already-chosen vector (min-d2 = 0)
    // and silently return duplicate centroids — counting rows alone
    // missed exactly the duplicate-input case the guard exists for
    val n = pts.select(col("q")).distinct().limit(k).count()
    require(n >= k, s"kmeans: need at least k ($k) distinct points, got $n")
    val cents = lloydRounds(pts, seedPlusPlus(pts, k), iters)
    assign(pts, cents)
  }
}
