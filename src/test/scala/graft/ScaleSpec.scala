package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Scale, SequencePack}

/** Skew/co-location utility specs: salted join equivalence with a skewed
  * key, heavy-hitter diagnosis, and shuffle-free bucketed joins.
  */
class ScaleSpec extends AnyFunSuite with SparkSuite with TempDirs with JobCounting {

  test("saltedJoin: identical results to plain join under heavy skew") {
    import spark.implicits._
    // 10k rows of hot key 1, a few of everything else
    val big = ((1 to 10000).map(i => (1L, s"v$i")) ++
      (2 to 50).map(i => (i.toLong, s"w$i"))).toDF("k", "payload")
    val small = (1 to 50).map(i => (i.toLong, s"dim$i")).toDF("k", "dim")

    val plain = big.join(small, "k")
    val salted = Scale.saltedJoin(big, small, "k", factor = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedAgg: two-phase salted aggregation equals the direct groupBy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = ((1 to 5000).map(i => ("hot", i * 0.01)) ++
      (1 to 40).map(i => (s"cold$i", i * 1.0))).toDF("k", "value")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val salted = Scale.saltedAgg(df, "k", "value", factor = 8)
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
    // the salted plan really is two-phase: partial on (k, salt), merge on k
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"))
  }

  test("salt spreads FULLY IDENTICAL rows across all factor salts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // The canonical real-world skew shape: one row value (think null-key or
    // default row) duplicated 1000×. A content-only salt would map every
    // copy to ONE bucket; the ordinal-folded salt must use all `factor`.
    val factor = 8
    val dup = (1 to 1000).map(_ => (1L, "same-payload")).toDF("k", "payload")
    val salts = dup.withColumn("__salt", Scale.saltExpr(dup, factor))
      .select("__salt").distinct().collect().map(_.getInt(0)).sorted
    assert(salts.length === factor,
      s"identical rows occupy ${salts.length}/$factor salts: ${salts.mkString(",")}")
    // and the salted ops stay correct on that exact input
    val small = Seq((1L, "dim")).toDF("k", "dim")
    val plain = dup.join(small, "k")
    val salted = Scale.saltedJoin(dup, small, "k", factor)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    val aggDirect = dup.withColumn("value", col("k").cast("double"))
    val direct = Scale.saltedAgg(aggDirect, "k", "value", factor).collect()
    assert(direct.length === 1 && direct.head.getLong(1) === 1000L)
  }

  test("heavyHitters surfaces the skewed key first") {
    import spark.implicits._
    val df = ((1 to 500).map(_ => 7L) ++ (1 to 20).map(_.toLong)).toDF("k")
    val top = Scale.heavyHitters(df, "k", 1).collect()
    assert(top.head.getLong(0) === 7L && top.head.getLong(1) === 501L) // 500 + one in 1..20
  }

  test("Q8 staged bucketed tables join shuffle-free, even without broadcast") {
    import org.apache.spark.sql.functions.col
    // stage the real q8 external bucketed tables at the smallest SF
    graft.queries.CoreQueries.bucketedJoin(spark, "/root/testdata/sf0.001").collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // ordering opt-in: Spark 3 dropped the bucket-scan sort guarantee by
    // default (SPARK-28595); writeBucketed's one-file-per-bucket layout is
    // exactly the case the legacy flag re-enables it for
    val prevOrd = spark.conf
      .getOption("spark.sql.legacy.bucketedTableScan.outputOrdering")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      // the join itself (pre-aggregation) must carry no shuffle exchange:
      // both scans expose the bucket hash partitioning on the join key
      val j = spark.table("q8_orders_b")
        .join(spark.table("q8_customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed q8 join should not shuffle:\n$plan")
      // one file per bucket (writeBucketed repartitions on the key) means
      // the scans expose sort order too: the merge join plans NO Sort
      assert(!plan.contains("Sort "),
        s"bucketed-sorted q8 join should not re-sort:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevOrd match {
        case Some(v) =>
          spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", v)
        case None =>
          spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      }
    }
  }

  test("stableIds: contiguous 0..n-1 with no sort and no data shuffle") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (1 to 9876).map(i => (s"doc$i", i % 7)).toDF("name", "grp")
      .repartition(7) // uneven hash spread across several partitions
    val out = Scale.stableIds(df, "row_id")
    val ids = out.select("row_id").collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 9876L).toArray)
    // every source row kept exactly once, payload intact
    assert(out.select("name").distinct().count() === 9876)
    // the id assignment itself must not sort or shuffle the data: the only
    // exchange below the broadcast join feeds the tiny per-partition count
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort "), s"stableIds sorted the data:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"offset join not broadcast:\n$plan")
  }

  test("stableIds: empty frame yields empty ids") {
    import spark.implicits._
    val empty = Seq.empty[(String, Int)].toDF("name", "grp")
    assert(Scale.stableIds(empty).count() === 0)
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // The 100 TB shape: neither side broadcasts, but one side is filtered
    // selective — Spark's InjectRuntimeFilter builds a bloom filter from
    // the selective side and semi-filters the big side's scan BEFORE its
    // shuffle (might_contain in the plan), cutting exchange volume by the
    // selectivity. Thresholds are sized for clusters, so pin the behavior
    // here with test-scale thresholds; results must be unchanged.
    val sf = "/root/testdata/sf0.001"
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      // semantics unchanged vs the un-filtered plan
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expect = lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(j.count() === expect)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val n = 1000
    Scale.writeBucketed((1 to n).map(i => (i.toLong, s"a$i")).toDF("k", "a"),
      "bkt_left", "k", buckets = 4)
    Scale.writeBucketed((1 to n).map(i => (i.toLong, s"b$i")).toDF("k", "b"),
      "bkt_right", "k", buckets = 4)
    val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === n)
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
  }

  test("packByWeight equals the sequential prefix-sum definition") {
    import spark.implicits._
    // sparse, shuffled ids with varied weights, many buckets (width 10)
    val rows = scala.util.Random.shuffle(
      (0 until 500).map(i => (i * 7L % 4099L, (i % 13 + 1).toLong)).toList)
      .toDF("id", "w")
    val got = Scale.packByWeight(rows, "id", "w", target = 50L, bucketWidth = 10L)
      .select("id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential reference: walk ids in order, shard = floor(prefix/target)
    var acc = 0L
    val expect = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).map { case (id, w) =>
        val s = acc / 50L; acc += w; id -> s
      }.toMap
    assert(got === expect)
    // shards are contiguous id ranges: max id of shard s < min id of s+1
    val byShard = expect.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (s, m) => (s, m.keys.min, m.keys.max) }
    byShard.sliding(2).foreach {
      case Seq((_, _, hiA), (_, loB, _)) => assert(hiA < loB)
      case _ =>
    }
  }

  test("sequenceSpans cuts the stream exactly: docs reassemble, sequences fill") {
    import spark.implicits._
    // sparse shuffled ids, varied token counts including zeros
    val rows = scala.util.Random.shuffle(
      (0 until 300).map(i => (i * 11L % 2503L, (i % 9).toLong)).toList)
      .toDF("id", "n")
    val L = 32L
    val spans = SequencePack.sequenceSpans(rows, "id", "n", seqLen = L,
        bucketWidth = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = spans.groupBy(_._1)
    val src = rows.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // every non-empty doc's spans tile [0, n) contiguously, in seq order
    for ((id, n) <- src) {
      val s = byDoc.getOrElse(id, Array.empty).sortBy(_._2)
      if (n == 0) assert(s.isEmpty, s"doc $id is empty but has spans")
      else {
        assert(s.head._3 === 0L && s.last._4 === n, s"doc $id span ends: ${s.toSeq}")
        s.sliding(2).foreach {
          case Array((_, q1, _, e1), (_, q2, s2, _)) =>
            assert(q2 === q1 + 1 && s2 === e1, s"doc $id gap: ${s.toSeq}")
          case _ =>
        }
      }
    }
    // every sequence except the last holds exactly L tokens
    val perSeq = spans.groupBy(_._2).view.mapValues(_.map(x => x._4 - x._3).sum)
      .toSeq.sortBy(_._1)
    perSeq.init.foreach { case (q, tot) =>
      assert(tot === L, s"sequence $q holds $tot tokens, want $L")
    }
    assert(perSeq.last._2 <= L && perSeq.last._2 > 0)
    // and the ids are dense 0..#seqs-1
    assert(perSeq.map(_._1) === (0L until perSeq.size.toLong))
  }

  test("AQE splits the skewed partition of a planted-skew sort-merge join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The dedup band joins bound hot buckets ANALYTICALLY (identical-set
    // collapse), but residual skew — a band key that is merely POPULAR,
    // not identical — lands on AQE's skew-join split at runtime. Pin that
    // the engagement actually happens on a planted-skew corpus: one join
    // key carries ~100x the median partition's bytes, neither side
    // broadcasts, and the final adaptive plan must show the skewed
    // partition split (`skew=true` on the join). Thresholds are sized for
    // clusters, so pin with test-scale values; results must be unchanged.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE has its OWN runtime broadcast threshold — leave either unset
      // and the tiny dim side converts to broadcast at runtime, which
      // dissolves the skew (and the thing this test pins)
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // key 0 holds 100k rows; 50k more spread over 99 keys. The payload
      // must be INCOMPRESSIBLE (md5 hex, unique per row): skew detection
      // reads compressed map-output sizes, and a constant pad deflates to
      // nothing, hiding the planted skew from the optimizer
      val big = spark.range(0, 150000).select(
        when(col("id") < 100000, 0L).otherwise(col("id") % 99 + 1).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string"))).as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"),
        concat(col("id").cast("string"), lit("-v")).as("v"))
      // the join output must be UNCONSTRAINED: any downstream operator
      // that requires the join's hash partitioning (a groupBy on the key,
      // even a global aggregate's final exchange in the same stage tree)
      // makes AQE (correctly) refuse the split, because splitting breaks
      // the output partitioning the later stage depends on. Terminal
      // join outputs are exactly the dedup verify-join shape
      val j = big.join(dim, "k")
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan did not finalize:\n$plan")
      assert(plan.split("== Initial Plan ==")(0).contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
      // semantics: exact row multiplicities survive the split
      assert(rows.length === 150000)
      assert(rows.count(_.getLong(0) == 0L) === 100000)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE coalesces undersized shuffle partitions; results unchanged vs AQE off") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The session plans every groupBy at spark.sql.shuffle.partitions
    // (sized for the big corpora); small intermediate aggregates would
    // leave most of those partitions near-empty and pay per-partition
    // task overhead down the rest of the stage tree. The 100x claims
    // lean on AQE folding those back at RUNTIME — pin the engagement,
    // not just the default: the final adaptive plan must read the
    // aggregate's shuffle through a coalesced AQEShuffleRead, and the
    // result must be bit-identical to the AQE-off plan.
    val data = spark.range(0, 5000).select(
      (col("id") % 40).as("k"), md5(col("id").cast("string")).as("v"))
    def agg() = data.groupBy("k").agg(count(lit(1)).as("n"),
      min(col("v")).as("mn")).orderBy("k")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offRows =
      try agg().collect().toSeq
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
    val q = agg()
    val onRows = q.collect().toSeq
    assert(onRows === offRows, "AQE changed the aggregate's result")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"plan did not finalize:\n$plan")
    assert(plan.split("== Initial Plan ==")(0).contains("coalesced"),
      s"AQE did not coalesce the undersized shuffle partitions:\n$plan")
  }

  test("AQE converts a shuffle join to broadcast at runtime when a side turns out small") {
    import org.apache.spark.sql.functions._
    // Static planning can only see estimated sizes; a filtered dim that
    // SHRINKS below the broadcast bar at runtime is AQE's other re-plan
    // lever (the one the skew test above must disable to see a split).
    // Pin it engaging: static broadcast off, adaptive broadcast on — the
    // final plan must show BroadcastHashJoin even though the initial
    // plan was a shuffle join; results unchanged vs both-off.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.range(0, 50000).select((col("id") % 500).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(0, 5000).select(col("id").as("k"),
        concat(col("id").cast("string"), lit("-v")).as("v"))
        .filter(col("k") < 500)
      val j = big.join(dim, "k")
      assert(j.collect().length === 50000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan did not finalize:\n$plan")
      assert(plan.split("== Initial Plan ==")(0).contains("BroadcastHashJoin"),
        s"AQE did not convert the runtime-small side to broadcast:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("S19: compaction shrinks the file count and clusters disjoint key ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tempDir("graft-s19").toString
    val df = (0L until 5000L).map(i => (i, s"payload-$i")).toDF("event_id", "p")
    df.repartition(32).write.mode("overwrite").parquet(s"$root/small")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$root/small") === 32)
    // in-place overwrite would truncate the input mid-scan — refused
    intercept[IllegalArgumentException] {
      graft.ops.Compaction.compact(spark, s"$root/small", s"$root/small/",
        targetBytes = 64L << 10, sortCol = "event_id")
    }
    val n = graft.ops.Compaction.compact(spark, s"$root/small",
      s"$root/compact", targetBytes = 64L << 10, sortCol = "event_id")
    assert(parquetFiles(s"$root/compact") === n)
    assert(n < 32, s"compaction did not shrink the file count (n=$n)")
    val back = spark.read.parquet(s"$root/compact")
    assert(back.count() === 5000L, "compaction lost or duplicated rows")
    // range clustering: per-file min/max key ranges are pairwise disjoint,
    // the property parquet min/max file pruning rides on
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("event_id").as("lo"), max("event_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file key ranges overlap: $hi1 >= $lo2")
      case _ =>
    }
  }

  test("S19: compaction starts exactly as many Spark jobs as the bare range-rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-s19-jobs").toString
    (0L until 5000L).map(i => (i, s"payload-$i")).toDF("event_id", "p")
      .repartition(32).write.mode("overwrite").parquet(s"$root/small")
    var n = 0
    val compactJobs = jobsStartedBy {
      n = graft.ops.Compaction.compact(spark, s"$root/small", s"$root/compact",
        targetBytes = 64L << 10, sortCol = "event_id")
    }
    // the rewrite alone, into the same file count
    val rewriteJobs = jobsStartedBy {
      spark.read.parquet(s"$root/small")
        .repartitionByRange(n, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(s"$root/rewrite")
    }
    assert(compactJobs === rewriteJobs,
      s"compact started $compactJobs jobs, the bare rewrite $rewriteJobs")
  }

  test("S23: z-order bounds BOTH key columns per file; single-key leaves the second at full range") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tempDir("graft-s23").toString
    // two independent uniform keys — the shape where single-key clustering
    // provably cannot help the second column
    val rnd = new scala.util.Random(7)
    val df = (0L until 20000L)
      .map(i => (i, rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
      .toDF("row_id", "a", "b")
    df.repartition(32).write.mode("overwrite").parquet(s"$root/small")
    graft.ops.Compaction.compact(spark, s"$root/small", s"$root/single",
      targetBytes = 24L << 10, sortCol = "a")
    graft.ops.Compaction.compactZOrder(spark, s"$root/small", s"$root/z",
      targetBytes = 24L << 10, colA = "a", colB = "b")
    // pure key math first: interleave is exact
    val z = spark.range(1)
      .select(graft.ops.Compaction.zOrderKey(lit(0xFFFFL), lit(0L)).as("za"),
        graft.ops.Compaction.zOrderKey(lit(0L), lit(0xFFFFL)).as("zb"))
      .collect()(0)
    assert(z.getLong(0) === 0x55555555L && z.getLong(1) === 0xAAAAAAAAL)
    def meanExtents(dir: String): (Double, Double) = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("a") - min("a")).as("ea"), (max("b") - min("b")).as("eb"))
        .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
      (spans.map(_._1).sum / spans.length / 65535.0,
        spans.map(_._2).sum / spans.length / 65535.0)
    }
    val (sa, sb) = meanExtents(s"$root/single")
    val (za2, zb2) = meanExtents(s"$root/z")
    assert(sa < 0.5, s"single-key files are not clustered on a (mean extent $sa)")
    assert(sb > 0.9, s"single-key second column should be full-range (got $sb)")
    // z-order: BOTH columns bounded well below the full domain per file
    assert(za2 < 0.6 && zb2 < 0.6,
      s"z-order did not bound both columns (a=$za2, b=$zb2)")
    // and the rewrite is lossless
    assert(spark.read.parquet(s"$root/z").count() === 20000L)
  }

  test("S24: dynamic overwrite patches one partition; static mode would truncate the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tempDir("graft-s24").toString
    val df = Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 1L, 3.0), (4L, 2L, 4.0))
      .toDF("id", "day", "v")
    df.write.mode("overwrite").partitionBy("day").parquet(root)
    val patch = Seq((9L, 0L, 9.0)).toDF("id", "day", "v")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      patch.write.mode("overwrite").partitionBy("day").parquet(root)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    val back = spark.read.parquet(root)
      .select(col("id"), col("day").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // day 0 replaced wholesale, days 1 and 2 untouched
    assert(back === Set((9L, 0L, 9.0), (3L, 1L, 3.0), (4L, 2L, 4.0)))
    // the contrast that makes the mode matter: STATIC overwrite truncates
    // the whole table down to the patch's partitions
    patch.write.mode("overwrite").partitionBy("day").parquet(root)
    assert(spark.read.parquet(root).count() === 1L)
  }

  test("J10: snapshot diff emits exactly the modular construction's I/U/D classes") {
    val d = graft.queries.CoreQueries.snapshotDiff(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d.map(_._2).toSet === Set("I", "D", "U")) // all three kinds fire
    d.foreach { case (id, c) =>
      c match {
        case "I" => assert(id % 7 == 0 && id % 3 != 0, s"bad insert $id")
        case "D" => assert(id % 3 == 0 && id % 7 != 0, s"bad delete $id")
        case "U" => assert(id % 5 == 0 && id % 3 != 0 && id % 7 != 0, s"bad update $id")
      }
    }
    // diff output scales with the CHANGE volume: unchanged rows are absent
    val n = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(d.length < n, "diff emitted unchanged rows")
  }

  test("stableIds after a range sort equals the global sort rank (t14's shape)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // random keys over many partitions: sort → stableIds must equal the
    // sequential rank of the sort key, exactly — the window-free global
    // permutation t14 builds on
    val rnd = new scala.util.Random(42)
    val rows = (0L until 500L).map(id => (id, rnd.nextLong())).toSeq
    val df = rows.toDF("id", "k").repartition(13)
    val got = Scale.stableIds(df.orderBy(col("k"), col("id")), "pos")
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = rows.sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got === expect)
  }

  test("s25: expireSnapshots removes expired versions + orphans, keeps the live tail byte-intact") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = tempDir("graft-expire").toString
    (0 to 3).foreach { n =>
      Seq((n.toLong, s"v$n")).toDF("id", "tag").write.parquet(s"$root/v$n")
    }
    Files.write(Paths.get(s"$root/orphan.parquet.inprogress"), "x".getBytes)
    Files.write(Paths.get(s"$root/stray.tmp"), "y".getBytes)
    val kept = graft.ops.Compaction.expireSnapshots(spark, root, keep = 2)
    assert(kept === Seq(2, 3))
    assert(!Files.exists(Paths.get(s"$root/v0")) && !Files.exists(Paths.get(s"$root/v1")))
    assert(!Files.exists(Paths.get(s"$root/orphan.parquet.inprogress")))
    assert(!Files.exists(Paths.get(s"$root/stray.tmp")))
    // survivors stay readable with their content intact
    assert(spark.read.parquet(s"$root/v2").as[(Long, String)].collect().toSet
      === Set((2L, "v2")))
    assert(spark.read.parquet(s"$root/v3").count() === 1L)
    // keep beyond the chain length is a no-op, not an error
    assert(graft.ops.Compaction.expireSnapshots(spark, root, keep = 10) === Seq(2, 3))
    assert(Files.exists(Paths.get(s"$root/v2")))
    // keep < 1 fails loudly
    intercept[IllegalArgumentException](
      graft.ops.Compaction.expireSnapshots(spark, root, keep = 0))
    // benign engine markers (_SUCCESS, dot-files) neither wedge the
    // vacuum nor get deleted by it (review r20)
    Files.write(Paths.get(s"$root/_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(s"$root/.chain.meta"), "m".getBytes)
    assert(graft.ops.Compaction.expireSnapshots(spark, root, keep = 2) === Seq(2, 3))
    assert(Files.exists(Paths.get(s"$root/_SUCCESS")))
    assert(Files.exists(Paths.get(s"$root/.chain.meta")))
    // a non-transient foreign entry makes the vacuum REFUSE (and leave
    // the asset intact) rather than wipe it — the r19 safety contract
    Files.write(Paths.get(s"$root/unrelated-asset.csv"), "precious".getBytes)
    intercept[IllegalArgumentException](
      graft.ops.Compaction.expireSnapshots(spark, root, keep = 1))
    assert(Files.exists(Paths.get(s"$root/unrelated-asset.csv")))
    // the refusal is validate-first: NOTHING was deleted, v2 survives
    // even though keep=1 would have expired it
    assert(Files.exists(Paths.get(s"$root/v2")))
  }
}
