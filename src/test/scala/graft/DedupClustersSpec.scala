package graft

import graft.operators.DedupClusters

/** Semantics tests for connected-component cluster resolution
  * ([[graft.operators.DedupClusters]]): hand-checkable graphs pin the
  * star-contraction output; a seeded randomized differential test
  * checks every component assignment against a driver-side union-find
  * ground truth (the fixture-scale battery covers oracle parity).
  */
class DedupClustersSpec extends SparkSpecBase {

  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters
      .components(pairs.toDF("doc_a", "doc_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("a chain resolves to one component rooted at the minimum") {
    // worst case for label propagation (diameter = n), routine for
    // star contraction
    val chain = (0L until 9L).map(i => (i, i + 1))
    val got = comps(chain)
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep separate minima; duplicates and reversed edges collapse") {
    val got = comps(Seq((5L, 3L), (3L, 5L), (5L, 3L), (10L, 11L), (12L, 11L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("self-loops and empty input are tolerated") {
    assert(comps(Seq((7L, 7L))) === Map.empty)
    assert(comps(Seq.empty) === Map.empty)
  }

  test("components leaves the session conf untouched") {
    // the session may be shared with other jobs: a conf flipped for the
    // contraction loop would change their plans too
    val before = spark.conf.getAll
    assert(comps((0L until 9L).map(i => (i, i + 1))).size === 10)
    assert(spark.conf.getAll === before)
  }

  test("resolve emits cluster size and exactly one canonical doc per cluster") {
    val res = DedupClusters
      .resolve(Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(res === Array(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (8L, 8L, 2L, true), (9L, 8L, 2L, false)))
  }

  private def resolved(pairs: Seq[(Long, Long)]) =
    DedupClusters.resolve(pairs.toDF("doc_a", "doc_b"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)

  test("merge(resolve(P1), P2) == resolve(P1 ∪ P2): bridge, new docs, untouched cluster") {
    val p1 = Seq((1L, 2L), (2L, 3L), (8L, 9L), (20L, 21L))
    // bridges clusters {1,2,3} and {8,9}, adds brand-new {30,31};
    // {20,21} is untouched and must pass through
    val p2 = Seq((3L, 8L), (30L, 31L))
    val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
    assert(got === rows(resolved(p1 ++ p2)))
  }

  test("merge drops self-pairs exactly as resolve does (the bit-identical contract)") {
    // doc 5's ONLY new pair is a self-pair: resolve(P1 ∪ {(5,5)})
    // filters the self-loop and emits no row for 5; merge must not
    // smuggle 5 in through its scope union. A self-pair on an EXISTING
    // member (2,2) must likewise change nothing.
    val p1 = Seq((1L, 2L))
    val p2 = Seq((5L, 5L), (2L, 2L))
    val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
    assert(got === rows(resolved(p1 ++ p2)))
    assert(!got.exists(_._1 == 5L))
  }

  test("merge with no new pairs returns the prior assignment unchanged") {
    val prior = resolved(Seq((1L, 2L), (5L, 6L)))
    val got = rows(DedupClusters.merge(prior,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")))
    assert(got === rows(prior))
  }

  test("merge randomized: arbitrary pair splits equal the one-shot resolve (seeded)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 50
      val all = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (p1, p2) = all.partition(_ => rnd.nextBoolean())
      val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
      assert(got === rows(resolved(all)))
    }
  }

  test("randomized graphs match a union-find ground truth (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      assert(comps(edges) === want)
    }
  }
}
