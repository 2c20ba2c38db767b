package graft

import graft.transform.Transforms
import org.apache.spark.sql.functions._

class TransformsSpec extends SparkTestBase {
  import spark.implicits._

  test("batch count: reference _BatchElements semantics") {
    // 11 rows / size 2 → 6 batches (batches_from_executions_test.py:65-75)
    assert(Transforms.batchCount(11, 2) == 6)
    assert(Transforms.batchCount(10, 2) == 5)
    assert(Transforms.batchCount(1, 2) == 1)
    assert(Transforms.batchCount(0, 2) == 1) // empty input still yields one batch
    assert(Transforms.batchCount(5000, 5000) == 1)
    assert(Transforms.batchCount(5001, 5000) == 2)
  }

  test("grouped iterator matches batchCount") {
    for (n <- Seq(0, 1, 2, 10, 11); size <- Seq(1, 2, 5)) {
      val batches = Transforms.grouped((1 to n).iterator, size).toSeq
      assert(batches.length == Transforms.batchCount(n, size),
        s"n=$n size=$size got ${batches.length}")
      assert(batches.flatten == (1 to n))
      if (n > 0) assert(batches.forall(_.nonEmpty))
    }
  }

  test("topNPerKey: salted two-phase equals the plain per-key window, hot key included") {
    // one hot key (80% of rows) plus a long tail; total order = (score desc, id)
    val rows = (1 to 500).map { i =>
      val key = if (i % 5 != 0) "hot" else s"k${i % 17}"
      (i.toLong, key, (i * 31 % 97).toLong)
    }
    val df = rows.toDF("id", "key", "score")
    val got = Transforms.topNPerKey(df, col("key"),
      Seq(col("score").desc, col("id")), 7, col("id"), salts = 4)
      .select("id", "key", "rk").as[(Long, String, Long)].collect().toSet
    val want = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("key")).orderBy(col("score").desc, col("id"))
      df.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 7)
        .select("id", "key", "rk").as[(Long, String, Long)].collect().toSet
    }
    assert(got == want)
  }

  test("anti join drops exactly the uploaded keys") {
    val source = Seq(("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z"), ("a", 2, "w"))
      .toDF("gclid", "time", "payload")
    val uploaded = Seq(("a", 1), ("c", 3)).toDF("gclid", "time")
    val out = Transforms.antiJoinUploaded(source, uploaded, Seq("gclid", "time"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("b", 2), ("a", 2)))
  }

  test("anti join keeps exactly the rows whose key is absent from uploaded") {
    // (l_orderkey, l_linenumber) is NOT unique in the generated data, so the
    // expectation is computed key-set-wise, not by row-count subtraction.
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val up = li.filter($"l_returnflag" === "R").select("l_orderkey", "l_linenumber")
    val out = Transforms.antiJoinUploaded(li, up, Seq("l_orderkey", "l_linenumber"))
    val upKeys = up.collect().map(r => (r.get(0), r.get(1))).toSet
    val expected = li.select("l_orderkey", "l_linenumber").collect()
      .count(r => !upKeys.contains((r.get(0), r.get(1))))
    assert(out.count() == expected)
    assert(out.columns.toSeq == li.columns.toSeq)
  }

  test("anti join broadcast is size-gated: oversized control tables lose the hint") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val keys = Seq("l_orderkey", "l_linenumber")
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val up = li.filter($"l_returnflag" === "R").select(keys.map(col): _*)
    def hint(df: org.apache.spark.sql.DataFrame): JoinHint =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }.head
    // small control table: the broadcast hint reaches the join (control
    // tables are usually small and the 100 TB source side must not shuffle)
    val small = Transforms.antiJoinUploaded(li, up, keys)
    assert(hint(small).rightHint.exists(_.strategy.exists(_.toString == "broadcast")))
    // the same keys behind a leaf that reports 1 TiB: the log is oversized
    // to BroadcastGuard — no hint, AQE decides, and a billion-key log can
    // never be forced into executor memory
    val bigUp = org.apache.spark.sql.SizeStamp(up, BigInt(1L << 40))
    val big = Transforms.antiJoinUploaded(li, bigUp, keys)
    assert(hint(big) === JoinHint.NONE)
    // identical semantics either way
    assert(big.count() == small.count())
  }

  test("digitsOnly mirrors reference utils filter") {
    val out = Seq("+55 (11) 99999-9999", "abc", "123")
      .toDF("v").select(Transforms.digitsOnly($"v")).as[String].collect()
    assert(out.toSeq == Seq("5511999999999", "", "123"))
  }

  test("consolidate = union-all + global distinct") {
    val a = Seq(1, 2, 3).toDF("k")
    val b = Seq(2, 3, 4).toDF("k")
    assert(Transforms.consolidate(Seq(a, b)).as[Int].collect().toSet == Set(1, 2, 3, 4))
  }

  test("saltedJoin: plain-join semantics, hot key spread across all salts") {
    // 1000 of 1100 rows share key 0 — the straggler regime: unsalted, every
    // hot row lands in ONE hash-partition bucket.
    val left = spark.range(1100).select(
      when($"id" < 1000, 0L).otherwise($"id").as("k"), $"id".as("v"))
    val right = spark.range(1100).select(
        when($"id" < 1000, 0L).otherwise($"id").as("k")).distinct()
      .withColumn("attr", $"k" * 2)
    val naive = left.join(right, Seq("k")).select("k", "v", "attr")
    val salted = Transforms.saltedJoin(left, right, Seq("k"), 8)
      .select("k", "v", "attr")
    assert(salted.exceptAll(naive).count() == 0 && naive.exceptAll(salted).count() == 0)
    assert(salted.count() == 1100)
    // The straggler disappears: replaying saltedJoin's salt derivation, the
    // hot key's 1000 rows occupy all 8 (k, salt) buckets and the largest
    // holds ~1/8 of them — the join task fed by it shrinks accordingly.
    val dist = left.filter($"k" === 0L)
      .withColumn("__salt", pmod(hash(left.columns.map(col): _*), lit(8)))
      .groupBy($"__salt").count().collect().map(_.getLong(1))
    assert(dist.length == 8, s"expected 8 salt buckets, got ${dist.length}")
    assert(dist.max <= 250, s"hot-key bucket still holds ${dist.max} of 1000 rows")
  }

  test("mergeUpsert: latest wins, update beats base on version tie, inserts land") {
    val base = Seq((1L, "b1", 5L), (2L, "b2", 5L), (3L, "b3", 5L))
      .toDF("k", "v", "version")
    val updates = Seq(
      (1L, "u1", 9L),  // newer version -> replaces
      (2L, "u2", 5L),  // SAME version -> update still wins
      (4L, "u4", 1L))  // new key -> inserts
      .toDF("k", "v", "version")
    val out = Transforms.mergeUpsert(base, updates, Seq("k"), "version")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out === Map(1L -> "u1", 2L -> "u2", 3L -> "b3", 4L -> "u4"))
    // one keyed window, no join in the plan
    val p = Transforms.mergeUpsert(base, updates, Seq("k"), "version")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"mergeUpsert should not plan a join:\n$p")
  }

  test("mergeCdc: delete wins when latest, loses to a newer update, base survives") {
    val base = Seq((1L, "b1", 5L), (2L, "b2", 5L), (3L, "b3", 5L))
      .toDF("k", "v", "version")
    val changes = Seq(
      (1L, "u1", 6L, "U"), (1L, "x", 7L, "D"),  // delete is latest -> gone
      (2L, "x", 6L, "D"), (2L, "u2", 7L, "U"),  // update is latest -> survives
      (4L, "x", 1L, "D"))                        // delete of an absent key -> no row
      .toDF("k", "v", "version", "op")
    val out = Transforms.mergeCdc(base, changes, Seq("k"), "version", "op")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out === Map(2L -> "u2", 3L -> "b3"))
    val p = Transforms.mergeCdc(base, changes, Seq("k"), "version", "op")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"mergeCdc should not plan a join:\n$p")
  }
}
