package graft

import graft.util.Checkpoints._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
/** Round-12 optimization pins: every `canonicalInput = true` fast path
  * (fed the canonical a<b DISTINCT pinned edge list) must produce
  * EXACTLY the rows of the default path fed the full both-directions
  * edge list — the flag changes shuffle bytes, never results. The graph
  * here has duplicate sightings, both directions, self-loops, a hub, and
  * an isolated node, so each operator's dedup/mirror/self-loop handling
  * is exercised, not just the happy path.
  */
class GraphCanonicalInputSpec extends SparkTestBase {
  import graft.operators.Graph

  private lazy val rawEdges: DataFrame = {
    import spark.implicits._
    // undirected multigraph given as directed sightings (both directions
    // present, with duplicates and one self-loop): triangle 1-2-3, chain
    // 3-4-5, hub 6 touching 1..5, pendant 7-1
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (6L, 1L), (6L, 2L), (6L, 3L), (6L, 4L), (6L, 5L), (7L, 1L))
    (und ++ und.map(_.swap) ++ und.take(4) ++ Seq((2L, 2L)))
      .toDF("src", "dst")
  }

  private lazy val canonEdges: DataFrame =
    rawEdges.where(col("src") < col("dst")).distinct().pinned()

  private lazy val nodes: DataFrame = {
    import spark.implicits._
    (1L to 8L).toDF("id") // 8 is isolated
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("labelPropagation: canonicalInput matches the symmetric path") {
    val base = Graph.labelPropagation(nodes, "id", rawEdges, "src", "dst",
      rounds = 3, symmetric = true)
    val fast = Graph.labelPropagation(nodes, "id", canonEdges, "src", "dst",
      rounds = 3, symmetric = true, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("modularity: canonicalInput matches the symmetric path") {
    val labels = Graph.labelPropagation(nodes, "id", rawEdges, "src", "dst",
      rounds = 2, symmetric = true)
    val base = Graph.modularity(labels, "id", "label", rawEdges,
      "src", "dst", symmetric = true)
    val fast = Graph.modularity(labels, "id", "label", canonEdges,
      "src", "dst", symmetric = true, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("kCorePeel: canonicalInput matches the symmetric path") {
    val base = Graph.kCorePeel(nodes, "id", rawEdges, "src", "dst",
      k = 2, rounds = 3, symmetric = true)
    val fast = Graph.kCorePeel(nodes, "id", canonEdges, "src", "dst",
      k = 2, rounds = 3, symmetric = true, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("shortestHops: canonicalInput matches the default path") {
    import spark.implicits._
    val src = Seq(1L).toDF("nid")
    val base = Graph.shortestHops(rawEdges, "src", "dst", src, "nid", 3)
    val fast = Graph.shortestHops(canonEdges, "src", "dst", src, "nid", 3,
      canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("harmonicCentrality: canonicalInput matches the default path") {
    import spark.implicits._
    val seeds = Seq(1L, 6L, 8L).toDF("nid")
    val base = Graph.harmonicCentrality(rawEdges, "src", "dst", seeds, "nid", 3)
    val fast = Graph.harmonicCentrality(canonEdges, "src", "dst", seeds, "nid",
      3, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("hashWalks: canonicalInput matches the default path") {
    import spark.implicits._
    val seeds = Seq(1L, 3L, 6L).toDF("nid")
    val base = Graph.hashWalks(rawEdges, "src", "dst", seeds, "nid", steps = 3)
    val fast = Graph.hashWalks(canonEdges, "src", "dst", seeds, "nid",
      steps = 3, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("nodeSimilarity: canonicalInput matches the default path") {
    val base = Graph.nodeSimilarity(rawEdges, "src", "dst", k = 50)
    val fast = Graph.nodeSimilarity(canonEdges, "src", "dst", k = 50,
      canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("nodeSimilarity: hub cap still applies under canonicalInput") {
    val base = Graph.nodeSimilarity(rawEdges, "src", "dst", k = 50,
      maxDegree = 3)
    val fast = Graph.nodeSimilarity(canonEdges, "src", "dst", k = 50,
      maxDegree = 3, canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("ssspWeighted: canonical half with symmetric weights matches both-directions") {
    import spark.implicits._
    // weights: |src-dst| + 1 — symmetric by construction, duplicates get
    // distinct weights on the half side to exercise the min-collapse
    val w = abs(col("src") - col("dst")) + lit(1L)
    val both = rawEdges.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), w.as("w"))
    val half = rawEdges.where(col("src") < col("dst"))
      .select(col("src"), col("dst"), w.as("w"))
    val src = Seq(1L).toDF("nid")
    val base = Graph.ssspWeighted(both, "src", "dst", "w", src, "nid", 3)
    val fast = Graph.ssspWeighted(half, "src", "dst", "w", src, "nid", 3,
      canonicalInput = true)
    assert(rows(fast) == rows(base))
  }

  test("labelPropagation: canonicalInput without symmetric is rejected") {
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(nodes, "id", canonEdges, "src", "dst",
        rounds = 1, symmetric = false, canonicalInput = true)
    }
  }
}
