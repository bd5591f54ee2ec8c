package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geom.st

/** Distributed spatial join via grid-bucket explode + exact refine
  * (SURVEY §2.3 J3/J4, §4 "spatial-index join").
  *
  * The reference leans on GeoPandas' in-RAM R-tree (`sjoin`
  * delphine/regrid.py:167-177, `overlay` :267-270) — single-process,
  * whole-dataset-in-memory. The scale-out re-expression: assign every
  * geometry the grid buckets its envelope covers (one compiled
  * generator, one WKB parse per row, no shuffle), equi-join on the
  * bucket, then refine with the exact predicate.
  *
  * The join key is ONE 8-byte `bigint` per bucket, `(bx << 32) |
  * (by & 0xffffffff)` ([[graft.expressions.STEnvelopeCells.pack]]): a
  * stock shuffle-hash/sort-merge join on it plans like any long key
  * (AQE handles skew), and a broadcast side builds as Spark's
  * `LongHashedRelation`, sized to its data, where a 16-byte struct key
  * took an `UnsafeHashedRelation` that allocates a whole
  * `spark.buffer.pageSize` page per build. The explode fails loudly
  * when a bucket index leaves Int range instead of letting two keys
  * collide.
  *
  * Duplicate-pair elimination uses REFERENCE-POINT dedup: a candidate
  * pair may share several buckets, but is emitted only from the bucket
  * containing the min corner of the envelope intersection — pure
  * arithmetic, no `distinct()` shuffle afterwards. The two named
  * predicates fold it into one expression with the exact test, so each
  * candidate parses each side's WKB once: [[joinContains]] through
  * `st_pair_refine`, [[overlayIntersection]] through the
  * `st_pair_overlay` generator, which also computes the piece.
  *
  * 100 TB notes: shuffle volume is O(geoms × buckets-per-geom); pick
  * `cellSize` near the median geometry extent so buckets-per-geom stays
  * O(1). Skewed buckets (dense regions) are split by AQE skew-join
  * handling since the join is a plain equi-join.
  */
object SpatialJoin {

  /** (bx, by) structs of all buckets a geometry's envelope covers — the
    * Column-chain form of `st.envelopeCells`. */
  def bucketIds(geom: Column, cellSize: Double): Column = {
    val bx0 = floor(st.xmin(geom) / cellSize).cast("long")
    val bx1 = floor(st.xmax(geom) / cellSize).cast("long")
    val by0 = floor(st.ymin(geom) / cellSize).cast("long")
    val by1 = floor(st.ymax(geom) / cellSize).cast("long")
    flatten(transform(sequence(bx0, bx1), bx =>
      transform(sequence(by0, by1), by =>
        struct(bx.as("bx"), by.as("by")))))
  }

  /** The packed key of the single bucket holding the reference point
    * (min corner of the envelope intersection) of a candidate pair. */
  private def refKey(a: Column, b: Column, cellSize: Double): Column = {
    val bx = floor(greatest(st.xmin(a), st.xmin(b)) / cellSize).cast("long")
    val by = floor(greatest(st.ymin(a), st.ymin(b)) / cellSize).cast("long")
    shiftleft(bx, 32).bitwiseOR(by.bitwiseAND(lit(0xffffffffL)))
  }

  /** Both sides exploded to their packed bucket keys and equi-joined. */
  private def candidates(left: DataFrame, right: DataFrame,
      leftGeom: String, rightGeom: String, cellSize: Double): DataFrame = {
    val l = left.withColumn("__bucket",
      explode(st.envelopeKeys(col(leftGeom), cellSize)))
    val r = right.withColumn("__bucket",
      explode(st.envelopeKeys(col(rightGeom), cellSize)))
    l.join(r, "__bucket")
  }

  /** Spatial join of `left` and `right` on `predicate(leftGeom,
    * rightGeom)`. Column names of the two sides must be disjoint.
    * Emits each qualifying pair exactly once.
    *
    * The generic-predicate form: the caller's predicate and the
    * reference-point dedup stay separate Columns, so the geometry
    * re-parses for each. [[joinContains]]/[[overlayIntersection]] — the
    * two named predicates every declared query uses — fuse both into
    * one parse per side per candidate instead. */
  def join(left: DataFrame, right: DataFrame,
      leftGeom: String, rightGeom: String, cellSize: Double,
      predicate: (Column, Column) => Column): DataFrame =
    candidates(left, right, leftGeom, rightGeom, cellSize)
      .filter(col("__bucket") === refKey(col(leftGeom), col(rightGeom), cellSize) &&
        predicate(col(leftGeom), col(rightGeom)))
      .drop("__bucket")

  /** J3: point-in-polygon join (the reference's `sjoin`): reference-point
    * dedup + JTS `contains` fused in [[graft.expressions.STPairRefine]]. */
  def joinContains(polys: DataFrame, points: DataFrame,
      polyGeom: String, pointGeom: String, cellSize: Double): DataFrame =
    candidates(polys, points, polyGeom, pointGeom, cellSize)
      .filter(st.pairRefine(col(polyGeom), col(pointGeom), col("__bucket"), cellSize))
      .drop("__bucket")

  /** J4: overlay intersection (the reference's `gpd.overlay(...,
    * "intersection")`) — qualifying pairs carry both attribute sets plus
    * the intersection piece `piece_geom` and its area `piece_area`.
    *
    * Each candidate runs [[graft.expressions.STPairOverlay]] once: one
    * WKB parse per side, then reference-point dedup, the envelope and
    * `intersects` rejects, and the piece. Two hole-free convex polygons
    * (grid boxes, Voronoi cells) take the [[graft.geom.ConvexClip]]
    * Sutherland–Hodgman fast path and the area comes from the clipped
    * vertices; any other pair, and any touching or lower-dimension
    * result, falls back to JTS `intersection`. */
  def overlayIntersection(left: DataFrame, right: DataFrame,
      leftGeom: String, rightGeom: String, cellSize: Double): DataFrame =
    candidates(left, right, leftGeom, rightGeom, cellSize)
      .select(col("*"), st.pairOverlay(col(leftGeom), col(rightGeom),
        col("__bucket"), cellSize).as(Seq("piece_geom", "piece_area")))
      .drop("__bucket")

  /** Distance join (`ST_DWithin`): every (a, b) point pair within
    * Euclidean distance `d`, as `(id_a, id_b, dist)`. The left side
    * explodes to the grid cells its d-radius disc's bounding box
    * covers; the right side sits in its OWN single cell — so the
    * candidate generator is one equi-join on cell ids and each
    * qualifying pair is emitted exactly once (no dedup pass). The
    * refine compares SQUARED distances (`dx²+dy² ≤ d²` — exact single
    * IEEE ops), and `dist` is one final sqrt.
    *
    * 100 TB shape: shuffle carries (id, x, y, cell) only; per-pair
    * work is three multiplies. Pick `cellSize` ≈ `d`: the disc bbox
    * then covers ≤ 9 cells, so the explode fan-out is O(1) per row. */
  def joinWithinDistance(a: DataFrame, aId: String, aGeom: String,
      b: DataFrame, bId: String, bGeom: String,
      d: Double, cellSize: Double): DataFrame = {
    require(d >= 0, s"d=$d")
    require(cellSize > 0, s"cellSize=$cellSize")
    val lhs = a.select(col(aId).as("id_a"),
        st.stx(col(aGeom)).as("__ax"), st.sty(col(aGeom)).as("__ay"))
      .withColumn("__cell", explode(flatten(transform(
        sequence(floor((col("__ax") - d) / cellSize).cast("long"),
          floor((col("__ax") + d) / cellSize).cast("long")), bx =>
          transform(
            sequence(floor((col("__ay") - d) / cellSize).cast("long"),
              floor((col("__ay") + d) / cellSize).cast("long")), by =>
            struct(bx.as("bx"), by.as("by")))))))
    val rhs = b.select(col(bId).as("id_b"),
        st.stx(col(bGeom)).as("__bx"), st.sty(col(bGeom)).as("__by"))
      .withColumn("__cell", struct(
        floor(col("__bx") / cellSize).cast("long").as("bx"),
        floor(col("__by") / cellSize).cast("long").as("by")))
    val dx = col("__ax") - col("__bx")
    val dy = col("__ay") - col("__by")
    // SHUFFLE_HASH, not broadcast: a small input here is an EXPLODED
    // side with O(1/cellSize²) fan-out and a single-file probe side —
    // Catalyst's size estimate would broadcast the 9×-exploded left and
    // run the probe at the parquet file's parallelism (near-serial on a
    // small file; a driver OOM at scale). Hash-partitioning both sides
    // on the cell key is the plan that survives 100 TB: candidate
    // generation and the distance refine parallelize with the shuffle
    // partition count on both ends.
    lhs.join(rhs.hint("shuffle_hash"), "__cell")
      .filter(dx * dx + dy * dy <= lit(d) * lit(d))
      .select(col("id_a"), col("id_b"), sqrt(dx * dx + dy * dy).as("dist"))
  }

  /** SELF distance join: every unordered pair of `pts` within Euclidean
    * distance `d`, as (id_a, id_b, dist) with id_a < id_b — the same
    * pair multiset as [[joinWithinDistance]](pts, pts) followed by an
    * `id_a < id_b` filter, at about half the candidate work.
    *
    * The generic form explodes the probe side to the FULL disc-bbox
    * neighborhood (9 cells at cellSize ≈ d), so every qualifying pair
    * is generated — and distance-refined — in BOTH orientations, and
    * the caller then discards half. Here the probe side covers only
    * its own cell plus the lexicographically FORWARD (bx, by) cells of
    * the bbox (5 of 9 at cellSize ≈ d). For two points in DIFFERENT
    * cells exactly one of the two cells precedes the other, so exactly
    * one orientation probes the other's cell; SAME-cell pairs are both
    * generated and dedup on id order. Each unordered pair therefore
    * pays the equi-join and the distance refine exactly once: ~5/9 of
    * the exploded shuffle rows, half the refines (guide §2.3/§3).
    * Orientation of a cross-cell emission follows cell order, not id
    * order, so the output normalizes with least/greatest. */
  def selfJoinWithinDistance(pts: DataFrame, idCol: String, geomCol: String,
      d: Double, cellSize: Double): DataFrame = {
    require(d >= 0, s"d=$d")
    require(cellSize > 0, s"cellSize=$cellSize")
    val base = pts.select(col(idCol).as("__id"),
      st.stx(col(geomCol)).as("__x"), st.sty(col(geomCol)).as("__y"))
    def cellOf(x: Column, y: Column) = struct(
      floor(x / cellSize).cast("long").as("bx"),
      floor(y / cellSize).cast("long").as("by"))
    val ownBx = floor(col("__x") / cellSize).cast("long")
    val ownBy = floor(col("__y") / cellSize).cast("long")
    // own cell first, then forward cells: bx rows strictly past own
    // take the disc bbox's full by range; the own-bx row starts at own
    val fwd = flatten(transform(
      sequence(ownBx, floor((col("__x") + d) / cellSize).cast("long")), bx =>
        transform(
          sequence(
            when(bx === ownBx, ownBy)
              .otherwise(floor((col("__y") - d) / cellSize).cast("long")),
            floor((col("__y") + d) / cellSize).cast("long")), by =>
          struct(bx.as("bx"), by.as("by")))))
    val lhs = base
      .withColumn("__cell", explode(fwd))
      .select(col("__id").as("id_a"), col("__x").as("__ax"),
        col("__y").as("__ay"), col("__cell"))
    val rhs = base.select(col("__id").as("id_b"),
      col("__x").as("__bx"), col("__y").as("__by"),
      cellOf(col("__x"), col("__y")).as("__cell"))
    val dx = col("__ax") - col("__bx")
    val dy = col("__ay") - col("__by")
    // recomputed from the carried coords (3 cheap ops) instead of
    // shuffling a second 16-byte struct per exploded row
    val sameCell = col("__cell") === cellOf(col("__ax"), col("__ay"))
    // same SHUFFLE_HASH rationale as joinWithinDistance: the exploded
    // side must not broadcast, and the probe side must not run at a
    // single small file's parallelism
    lhs.join(rhs.hint("shuffle_hash"), "__cell")
      .filter(dx * dx + dy * dy <= lit(d) * lit(d) &&
        (!sameCell || col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        sqrt(dx * dx + dy * dy).as("dist"))
  }
}
