package graft

import org.apache.spark.sql.functions._

/** Round-12 contract enforcement: the scan's uniqueness and
  * nonnegativity guards, FIFO allocation's negative-quantity raise and
  * width-outlier immunity, and the RFM exact-path size gate.
  */
class Round12OpsSpec extends SparkTestBase {
  import spark.implicits._

  // ---- prefixSumOrdered uniqueness guard (round-11 verdict #2) --------

  test("prefixSumOrdered raises on duplicate composite sort keys") {
    // two rows tied on the FULL (k desc, sub) order: the running sum of
    // the tied pair would depend on where the range sampler splits them
    val df = Seq((5L, 1L, 10L), (3L, 2L, 20L), (3L, 2L, 30L), (1L, 3L, 40L))
      .toDF("k", "sub", "v")
    val e = intercept[Exception] {
      graft.operators.Scan.prefixSumOrdered(df,
        Seq(col("k").desc, col("sub")), "v", "cum", numPartitions = 4)
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("not unique"),
      s"expected the uniqueness raise, got: ${e.getMessage}")
  }

  test("prefixSumOrdered still exact on unique keys after the guard") {
    val rows = (1L to 200L).map(i => (i, i % 7))
    val got = graft.operators.Scan.prefixSumOrdered(rows.toDF("k", "v"),
        Seq(col("k").desc), "v", "cum", numPartitions = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expect = rows.sortBy(-_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (k, v)) => (k, acc + v) }
      .drop(1).toMap
    assert(got === expect)
  }

  // ---- groupedPrefixSum nonnegativity (ADVICE round 11) ---------------

  test("groupedPrefixSum raises on a negative value (mis-offset risk)") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, -3L), ("b", 1L, 4L))
      .toDF("g", "t", "v")
    val e = intercept[Exception] {
      graft.operators.Scan.groupedPrefixSum(df, Seq("g"), Seq(col("t")),
        "v", "cum", "tot").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("nonnegative"),
      s"expected the nonnegativity raise, got: ${e.getMessage}")
  }

  test("groupedPrefixSum unchanged on nonnegative values") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 0L), ("a", 3L, 2L), ("b", 1L, 4L))
      .toDF("g", "t", "v")
    val got = graft.operators.Scan.groupedPrefixSum(df, Seq("g"),
        Seq(col("t")), "v", "cum", "tot")
      // returned column order: input ++ (totCol, cumCol)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4))).sorted
    assert(got === Seq(("a", 1L, 7L, 5L), ("a", 2L, 7L, 5L),
      ("a", 3L, 7L, 7L), ("b", 1L, 4L, 4L)))
  }

  test("groupedPrefixSum keeps a null group as its own group") {
    // PARTITION BY semantics: rows whose group key is null are one group,
    // not dropped by the group-stats join
    val df = Seq((Option("a"), 1L, 5L), (Option("a"), 2L, 2L),
      (Option.empty[String], 1L, 3L), (Option.empty[String], 2L, 4L),
      (Option("b"), 1L, 1L)).toDF("g", "t", "v")
    val got = graft.operators.Scan.groupedPrefixSum(df, Seq("g"),
        Seq(col("t")), "v", "cum", "tot")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set((Some("a"), 1L, 7L, 5L), (Some("a"), 2L, 7L, 7L),
      (None, 1L, 7L, 3L), (None, 2L, 7L, 7L), (Some("b"), 1L, 1L, 1L)))
  }

  // ---- Allocate.fifo: negative quantities + width-outlier key ---------

  test("fifo raises on negative quantities instead of silently dropping them") {
    val d = Seq(("k", 1L, 4L), ("k", 2L, -2L)).toDF("key", "did", "qty")
      .withColumn("o", col("did"))
    val s = Seq(("k", 10L, 9L)).toDF("key", "lot", "qty")
      .withColumn("o", col("lot"))
    val e = intercept[Exception] {
      graft.operators.Allocate.fifo(d, "key", "did", "qty", Seq("o"),
        s, "key", "lot", "qty", Seq("o")).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("nonnegative"),
      s"expected the nonnegative-quantity raise, got: ${e.getMessage}")
  }

  test("fifo width-outlier key: 10^5 unit rows + one 10^12-qty lot stay linear") {
    // The round-11 documented caveat, planted: unit demands and unit lots
    // on one key plus a 10^12-quantity outlier lot at the END. Under the
    // old (dtot + stot)/(nd + nl) mean the outlier inflated the bin width
    // to ~5e6, pooling ALL 1e5 unit intervals of BOTH sides into bin 0 —
    // a 1e10-pair single-task join. The effective-axis width
    // 2*min(dtot, stot)/(nd + nl) = 1 keeps one interval per side per
    // bin, so this test completing in seconds IS the shape assertion.
    val n = 100000L
    val d = spark.range(1, n + 1).select(lit("hot").as("key"),
      col("id").as("did"), lit(1L).as("qty"), col("id").as("o"))
    val s = spark.range(1, n + 2).select(lit("hot").as("key"),
      col("id").as("lot"),
      when(col("id") <= n, 1L).otherwise(lit(1000000000000L)).as("qty"),
      col("id").as("o"))
    val out = graft.operators.Allocate.fifo(d, "key", "did", "qty", Seq("o"),
      s, "key", "lot", "qty", Seq("o"))
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2),
      r.getLong(3)))
    assert(rows.length === n,
      s"unit FIFO must pair demand i with lot i: got ${rows.length} rows")
    assert(rows.forall { case (did, lot, qty) => did == lot && qty == 1L },
      rows.filterNot { case (did, lot, qty) => did == lot && qty == 1L }
        .take(5).mkString(", "))
    // the outlier lot sits wholly beyond total demand -> zero allocations
    assert(!rows.exists(_._2 == n + 1), "outlier lot must stay untouched")
  }

  test("fifo outlier lot FIRST is clipped to the demand axis, drains everything") {
    // outlier at the head of the FIFO order: every demand drains it, the
    // unit lots behind it get nothing; its explode is clipped to dtot
    val n = 1000L
    val d = spark.range(1, n + 1).select(lit("hot").as("key"),
      col("id").as("did"), lit(1L).as("qty"), col("id").as("o"))
    val s = spark.range(0, n + 1).select(lit("hot").as("key"),
      col("id").as("lot"),
      when(col("id") === 0, lit(1000000000000L)).otherwise(1L).as("qty"),
      col("id").as("o"))
    val rows = graft.operators.Allocate.fifo(d, "key", "did", "qty",
        Seq("o"), s, "key", "lot", "qty", Seq("o"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === n)
    assert(rows.forall { case (_, lot, qty) => lot == 0L && qty == 1L })
  }

  // ---- rfmSegments runtime size gate (round-11 verdict #5) ------------

  test("rfmSegments above the customer bound dispatches to the histogram path") {
    val orders = (1 to 40).map { i =>
      (i % 10L, f"2024-01-${(i % 28) + 1}%02d", i * 7 % 50 + 1.0)
    }.toDF("cust", "day", "amt")
    val gated = graft.operators.Marketing.rfmSegments(orders, "cust", "day",
      "amt", maxExactCustomers = 5L)
    val hist = graft.operators.Marketing.rfmHistogramSegments(orders, "cust",
      "day", "amt")
    val k = Seq("r_score", "f_score", "m_score")
    assert(gated.orderBy(k.map(col): _*).collect().toSeq ===
      hist.orderBy(k.map(col): _*).collect().toSeq,
      "gated dispatch must return the histogram path's exact output")
    // and the plan must carry no unpartitioned ntile window
    assert(!gated.queryExecution.optimizedPlan.toString.contains("ntile"),
      "gate failed: the global ntile window survived above the bound")
  }

  test("rfmSegments below the bound keeps the exact ntile semantics") {
    val orders = Seq((1L, "2024-01-01", 10.0), (2L, "2024-02-01", 20.0),
      (3L, "2024-03-01", 30.0)).toDF("cust", "day", "amt")
    val out = graft.operators.Marketing.rfmSegments(orders, "cust", "day",
      "amt").collect()
    assert(out.length === 3) // three customers, three distinct cells
  }
}
