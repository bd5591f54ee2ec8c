package graft

import org.apache.spark.sql.functions._

import graft.geom.st
import graft.operators.SpatialJoin

/** Bucket-explode spatial join: correctness of candidate generation,
  * reference-point pair dedup, and predicate refinement. */
class SpatialJoinSpec extends SparkSpec {
  import spark.implicits._

  test("pair spanning many buckets is emitted exactly once") {
    // two big overlapping boxes, each covering a 4×4 bucket range at
    // cellSize=1 — naive bucket join would emit the pair ~9 times
    val a = Seq((1L, 0.0, 0.0, 4.0, 4.0)).toDF("aid", "x0", "y0", "x1", "y1")
      .select($"aid", st.makeBox($"x0", $"y0", $"x1", $"y1").as("ga"))
    val b = Seq((7L, 1.0, 1.0, 5.0, 5.0)).toDF("bid", "x0", "y0", "x1", "y1")
      .select($"bid", st.makeBox($"x0", $"y0", $"x1", $"y1").as("gb"))
    val j = SpatialJoin.join(a, b, "ga", "gb", 1.0,
      (l, r) => st.intersects(l, r))
    assert(j.count() == 1)
  }

  test("disjoint geometries in the same bucket are refined away") {
    val a = Seq((1L)).toDF("aid")
      .select($"aid", st.makeBox(lit(0.0), lit(0.0), lit(0.2), lit(0.2)).as("ga"))
    val b = Seq((2L)).toDF("bid")
      .select($"bid", st.makeBox(lit(0.5), lit(0.5), lit(0.7), lit(0.7)).as("gb"))
    val j = SpatialJoin.join(a, b, "ga", "gb", 10.0,
      (l, r) => st.intersects(l, r))
    assert(j.count() == 0)
  }

  test("joinContains: points on cell edges belong to no cell") {
    val cells = Seq((0L, 0.0), (1L, 2.0)).toDF("cid", "off")
      .select($"cid", st.makeBox($"off", lit(0.0), $"off" + 2.0, lit(2.0)).as("cg"))
    val pts = Seq((10L, 1.0, 1.0), (11L, 2.0, 1.0), (12L, 3.0, 1.0))
      .toDF("pid", "px", "py")
      .select($"pid", st.point($"px", $"py").as("pg"))
    val got = SpatialJoin.joinContains(cells, pts, "cg", "pg", 2.0)
      .select("cid", "pid").as[(Long, Long)].collect().toSet
    // point 11 sits on the shared edge x=2 → contained by neither
    assert(got == Set((0L, 10L), (1L, 12L)))
  }

  test("overlayIntersection computes piece geometry and area") {
    val a = Seq(1L).toDF("aid")
      .select($"aid", st.makeBox(lit(0.0), lit(0.0), lit(2.0), lit(2.0)).as("ga"))
    val b = Seq(2L).toDF("bid")
      .select($"bid", st.makeBox(lit(1.0), lit(1.0), lit(3.0), lit(3.0)).as("gb"))
    val r = SpatialJoin.overlayIntersection(a, b, "ga", "gb", 2.0)
      .select($"piece_area", st.asText(st.centroid($"piece_geom")))
      .as[(Double, String)].collect()
    assert(r.length == 1)
    assert(r(0)._1 == 1.0 && r(0)._2 == "POINT (1.5 1.5)")
  }

  test("fused envelope-cells and pair-refine equal the column-chain forms") {
    // random-ish boxes spanning 1-4 cells at cellSize=1.7, plus exact
    // cell-boundary-aligned ones (hash(id)%17==0 → integer corners)
    def boxes(seed: Int, n: Int, idName: String, gName: String) =
      spark.range(n).select($"id".as(idName),
        st.makeBox(
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0,
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0 + 0.3 + ($"id" % 7) * 0.5,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0 + 0.3 + ($"id" % 5) * 0.5)
          .as(gName))
    val a = boxes(11, 80, "aid", "ga")
    val b = boxes(37, 80, "bid", "gb")
    // expression level: one-parse envelope cells == the 4-parse chain
    val cellsNew = a.select($"aid", st.envelopeCells($"ga", 1.7).as("c"))
      .orderBy("aid").collect().map(_.toString).toSeq
    val cellsOld = a.select($"aid", SpatialJoin.bucketIds($"ga", 1.7).as("c"))
      .orderBy("aid").collect().map(_.toString).toSeq
    assert(cellsNew == cellsOld)
    // join level: the fused refine (joinContains/overlayIntersection
    // path) == the generic refBucket + predicate chain (join path)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    val chainInt = pairs(SpatialJoin.join(a, b, "ga", "gb", 1.7,
      (l, r) => st.intersects(l, r)))
    val fusedInt = pairs(SpatialJoin.overlayIntersection(a, b, "ga", "gb", 1.7))
    assert(chainInt.nonEmpty && fusedInt == chainInt)
    val chainCont = pairs(SpatialJoin.join(a, b, "ga", "gb", 1.7,
      (l, r) => st.contains(l, r)))
    val fusedCont = pairs(SpatialJoin.joinContains(a, b, "ga", "gb", 1.7))
    assert(fusedCont == chainCont)
  }

  test("empty geometries produce no cells and no pairs") {
    // intersection of disjoint boxes = an EMPTY polygon (null JTS
    // envelope). The fused explode emits zero cells for it; the old
    // chain emitted two phantom buckets that the predicate then always
    // rejected — either way, an empty geometry joins nothing.
    val empt = Seq(1L).toDF("aid").select($"aid",
      st.intersection(
        st.makeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)),
        st.makeBox(lit(5.0), lit(5.0), lit(6.0), lit(6.0))).as("ga"))
    assert(empt.select(size(st.envelopeCells($"ga", 1.0))).head().getInt(0) == 0)
    val pts = Seq((10L, 0.5, 0.5)).toDF("bid", "px", "py")
      .select($"bid", st.point($"px", $"py").as("gb"))
    assert(SpatialJoin.joinContains(empt, pts, "ga", "gb", 1.0).count() == 0)
    assert(SpatialJoin.overlayIntersection(empt, pts, "ga", "gb", 1.0).count() == 0)
  }

  test("packed bucket keys: negative cells join, out-of-Int cells fail loudly") {
    // boxes straddling both axes: bx and by take negative values, whose
    // low-word packing must agree between the explode, the fused refine
    // and the generic chain's Column-built reference key
    def boxes(seed: Int, n: Int, idName: String, gName: String) =
      spark.range(n).select($"id".as(idName),
        st.makeBox(
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0 - 10.0,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0 - 10.0,
          pmod(hash($"id", lit(seed)), lit(200)) / 10.0 - 9.2,
          pmod(hash($"id", lit(seed + 1)), lit(200)) / 10.0 - 9.5).as(gName))
    val a = boxes(5, 60, "aid", "ga")
    val b = boxes(9, 60, "bid", "gb")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
    val chain = pairs(SpatialJoin.join(a, b, "ga", "gb", 1.3,
      (l, r) => st.intersects(l, r)))
    assert(chain.nonEmpty && pairs(SpatialJoin.overlayIntersection(a, b, "ga", "gb", 1.3)) == chain)
    // a 1e6-wide box at cellSize 1e-4 spans bucket indices up to 1e10:
    // past Int range two packed keys would collide, so the explode
    // refuses instead of joining wrong pairs
    val huge = Seq(1L).toDF("aid").select($"aid",
      st.makeBox(lit(0.0), lit(0.0), lit(1e6), lit(1.0)).as("ga"))
    val ex = intercept[Exception] {
      SpatialJoin.overlayIntersection(huge, b, "ga", "gb", 1e-4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m => m.contains("cellSize=1.0E-4") &&
      m.contains("Env[0.0 : 1000000.0, 0.0 : 1.0]")), messages(ex).mkString("\n"))
  }

  test("selfJoinWithinDistance equals the generic two-sided form") {
    // deterministic pseudo-random cloud spanning many cells, duplicate
    // coordinates included (ids 200..209 reuse id%10's position) so
    // same-cell, cross-cell, zero-distance and boundary pairs all occur
    val pts = spark.range(210).select($"id",
      st.point(
        pmod(hash($"id" % 200, lit(1)), lit(1000)) / 100.0,
        pmod(hash($"id" % 200, lit(2)), lit(800)) / 100.0).as("pg"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"dist", 9).as("d"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val generic = norm(SpatialJoin.joinWithinDistance(
        pts, "id", "pg", pts, "id", "pg", d = 0.7, cellSize = 0.7)
      .filter($"id_a" < $"id_b"))
    val self = norm(SpatialJoin.selfJoinWithinDistance(
      pts, "id", "pg", d = 0.7, cellSize = 0.7))
    assert(generic.nonEmpty) // the fixture actually produces pairs
    assert(self == generic)
    // a cellSize well below d exercises the multi-ring forward probe
    val generic2 = norm(SpatialJoin.joinWithinDistance(
        pts, "id", "pg", pts, "id", "pg", d = 0.7, cellSize = 0.3)
      .filter($"id_a" < $"id_b"))
    val self2 = norm(SpatialJoin.selfJoinWithinDistance(
      pts, "id", "pg", d = 0.7, cellSize = 0.3))
    assert(self2 == generic2)
  }

  test("conservation: regrid piece areas sum to each source cell's area") {
    // 2×2 source cells of size 3×3 overlaid with a 0.5-shifted unit
    // target lattice fully covering them → every source cell's pieces
    // sum back to 9 exactly (the reference's invariant,
    // delphine/regrid.py:323-327)
    val src = Seq((0L, 0.0, 0.0), (1L, 3.0, 0.0), (2L, 0.0, 3.0), (3L, 3.0, 3.0))
      .toDF("sid", "sx", "sy")
      .select($"sid", st.makeBox($"sx", $"sy", $"sx" + 3.0, $"sy" + 3.0).as("sg"))
    val tgt = spark.range(64).select($"id".as("tid"),
      st.makeBox($"id" % 8 - 0.5, floor($"id" / 8) - 0.5,
        $"id" % 8 + 0.5, floor($"id" / 8) + 0.5).as("tg"))
    val sums = SpatialJoin.overlayIntersection(src, tgt, "sg", "tg", 3.0)
      .groupBy("sid").agg(sum($"piece_area").as("a"))
      .select("a").as[Double].collect()
    assert(sums.length == 4 && sums.forall(_ == 9.0))
  }
}
