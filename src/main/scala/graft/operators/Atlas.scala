package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Voxel-atlas region resolution — the Spark form of the reference's
  * coordinate-vs-declared brain-region validation (its second-largest
  * validation module): position → voxel index → raw-volume lookup
  * (reference src/neuron_morphology/validation/region_comparison.py:81-97
  * `get_region`: `voxel_data.positions_to_indices`, then a raw-volume
  * read), agreement judged as "ancestor or descendant" on the region
  * hierarchy (region_comparison.py:286-331 `check_agreement`, via
  * `reg_map.get(id, with_ascendants=True)`), and the FIRST COMMON
  * ANCESTOR reported when the two disagree (region_comparison.py:
  * 318-329 — the first entry of the observed region's leaf→root
  * ancestor list that also appears in the declared region's list).
  *
  * Re-expressed Spark-first over the repo's geography ontology (the
  * q29 closure): the atlas is a synthetic voxel volume whose cells
  * resolve to nation leaves, region interior nodes, or unclassified
  * space, generated in CLOSED FORM so the DuckDB oracle replays it
  * exactly; entity positions are closed-form functions of the entity
  * key (the engine's hash-threshold discipline — reproducible across
  * runs, engines and repartitioning).
  *
  * Scale shape: the voxel volume is dimension-sized (a real 25 µm
  * Allen volume is ~10⁷ voxels — broadcast or at worst a bucketed
  * dimension join; here 16³) and rides a broadcast; the ancestor
  * closure is dimension-sized and rides broadcasts (q29 discipline);
  * coordinate→bin is row-local arithmetic on the scan. Entities flow
  * through one scan + broadcast joins — zero data-sized shuffles
  * before the output sort, at any entity count.
  */
object Atlas {

  /** voxels per axis. */
  val GridSize = 16

  /** The AFFINE world→voxel transform, as a real NRRD-header volume
    * carries it (reference morph_metrics_dke.py:135
    * `compute_world_to_vox_mat` builds it from `space origin` /
    * `space directions`; region_comparison.py uses voxcell's
    * positions_to_indices): a per-axis origin translation plus a
    * spacing division. Spacing is RATIONAL (num/den integer µm — here
    * 1875/2 = 937.5 µm) and origins are nonzero, so the binning stays
    * integer-exact in both engines: index = ((p − origin)·den) DIV num,
    * with p ≥ origin guaranteed (origins sit below the position domain)
    * so truncating division IS floor division. A position exactly on a
    * voxel boundary belongs to the HIGHER voxel (floor semantics —
    * spec-pinned). */
  val SpacingNumUm = 1875L
  val SpacingDenUm = 2L
  val OriginUm: Seq[Long] = Seq(-500L, -1000L, -250L)

  /** per-axis position multipliers (primes, so the three axes decorrelate). */
  private val AxisPrime = Seq(7919L, 104729L, 1299709L)

  /** entity positions land in [0, PosModUm) µm per axis — sized so the
    * affine transform maps the whole domain inside the 16-voxel grid
    * for every axis origin (max index = (13999+1000)·2 DIV 1875 = 15). */
  val PosModUm = 14000L

  /** closed-form entity position on one axis, in µm — a pure row-local
    * function of the entity key, replayed verbatim by the oracle SQL. */
  def positionUm(key: Column, axis: Int): Column =
    pmod(key * lit(AxisPrime(axis)), lit(PosModUm))

  /** world µm → voxel index on one axis: the positions_to_indices step
    * through the rational affine. The divide-then-cast is exact here:
    * operands are exact small integers, the true quotient's granularity
    * (1/num) is far above double epsilon, and truncation toward zero
    * equals floor because p ≥ origin keeps the numerator non-negative. */
  def worldToVoxel(um: Column, axis: Int): Column =
    ((um - lit(OriginUm(axis))) * lit(SpacingDenUm))
      .divide(lit(SpacingNumUm)).cast("long")

  /** entity-key → voxel index (position closed form + affine). */
  def voxelIndex(key: Column, axis: Int): Column =
    worldToVoxel(positionUm(key, axis), axis)

  /** The synthetic annotation volume: one row per voxel cell, cell
    * value v = (ix + 3·iy + 7·iz) mod 32 decoding to a nation leaf
    * (v < 25), a region interior node (25 ≤ v < 30) — declarations and
    * volumes genuinely mix granularities — or unclassified space
    * (v ≥ 30, like the Allen volume's id-0 outside-brain voxels, where
    * the lookup resolves to nothing). */
  def voxelGrid(spark: SparkSession, nation: DataFrame, region: DataFrame): DataFrame = {
    // DRIVER-SIDE dimension build (the q120c discipline): the grid is a
    // pure function of the two collected dimension tables (25 + 5 rows)
    // and the closed-form cell rule. Built as DataFrame joins it
    // re-entered the plan as a fresh subtree per broadcast — q95's
    // before-plan carried 55 exchanges / 89 dimension scans of this and
    // the closure. A local relation broadcasts the same 4096 rows with
    // zero scans and zero exchanges; still computed from the parquet
    // inputs on every invocation.
    val (nName, rName) = collectDims(nation, region)
    val g = GridSize.toLong
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    var id = 0L
    while (id < g * g * g) {
      val (ix, iy, iz) = (id / (g * g), (id / g) % g, id % g)
      val v = (ix + 3 * iy + 7 * iz) % 32
      rows.add(org.apache.spark.sql.Row(ix, iy, iz,
        nName.get(v).orElse(rName.get(v - 25)).orNull))
      id += 1
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ix", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("iy", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("iz", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("computed_region",
        org.apache.spark.sql.types.StringType))))
  }

  /** the two dimension tables collected (25 + 5 rows, once per caller
    * invocation): nationkey → name and regionkey → name. Independent
    * of [[collectEdges]] — an operator that needs both maps AND the
    * edge list pays two tiny driver jobs per dimension table (the
    * collects are 25/5-row reads; deduplicating them across the two
    * helpers is not worth coupling their call sites). */
  private def collectDims(nation: DataFrame, region: DataFrame)
      : (Map[Long, String], Map[Long, String]) = (
    nation.select(col("n_nationkey").cast("long"), col("n_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap,
    region.select(col("r_regionkey").cast("long"), col("r_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)

  /** child→parent edge list of the geo hierarchy, collected driver-side
    * (the q29 edge rule: nation→its region via the inner join, every
    * region→WORLD). */
  private def collectEdges(region: DataFrame, nation: DataFrame): Seq[(String, String)] = {
    val rName = region.select(col("r_regionkey").cast("long"), col("r_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nEdges = nation
      .select(col("n_name"), col("n_regionkey").cast("long")).collect()
      .flatMap(r => rName.get(r.getLong(1)).map(p => r.getString(0) -> p)).toSeq
    nEdges ++ rName.values.toSeq.map(_ -> "WORLD")
  }

  /** ancestor sets over the geography ontology INCLUDING self at depth
    * 0 — the reg_map.get(..., with_ascendants=True) shape (the
    * reference's list starts at the node itself). Built on the q29
    * closure; dimension-sized, broadcast by callers. */
  def geoAncestors(region: DataFrame, nation: DataFrame): DataFrame = {
    // DRIVER-SIDE closure over the collected edge list (30 edges) at
    // maxDepth 3, plus the depth-0 self rows — a local relation, so the
    // many broadcasts that consume it (q94/q94b judge twice per verdict
    // column, q95 twice more) stop re-deriving the closure from the two
    // parquet dimensions per use.
    val spark = region.sparkSession
    val edges = collectEdges(region, nation)
    val closure = Ontology.closurePaths(edges, maxDepth = 3)
    val selfRows = (edges.map(_._1) ++ edges.map(_._2)).distinct.map(n => (n, n, 0))
    spark.createDataFrame(
      (closure ++ selfRows).map { case (n, a, d) => org.apache.spark.sql.Row(n, a, d) }
        .asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ancestor",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("depth",
          org.apache.spark.sql.types.IntegerType))))
  }

  /** the ONE hierarchy-verdict rule, shared by q94 and q94b so the
    * center and neighbour judgments cannot drift: appends `out` ∈
    * {unresolved, same region, ancestor, descendant, mismatch} for the
    * (declaredCol, computedCol) pair via two broadcast left joins
    * against the proper-ancestor pairs of the q29 closure. */
  private def withRelationship(df: DataFrame, declaredCol: String,
                               computedCol: String, region: DataFrame,
                               nation: DataFrame, out: String): DataFrame = {
    val ancPairs = geoAncestors(region, nation)
      .filter(col("depth") >= 1)
      .select(col("node"), col("ancestor")).distinct()
    df.join(broadcast(ancPairs.select(col("node").as("__an"), col("ancestor").as("__aa"))),
        col(declaredCol) === col("__an") && col(computedCol) === col("__aa"), "left")
      .join(broadcast(ancPairs.select(col("node").as("__dn"), col("ancestor").as("__da"))),
        col(computedCol) === col("__dn") && col(declaredCol) === col("__da"), "left")
      .withColumn(out,
        when(col(computedCol).isNull, "unresolved")
          .when(col(declaredCol) === col(computedCol), "same region")
          .when(col("__aa").isNotNull, "ancestor")
          .when(col("__da").isNotNull, "descendant")
          .otherwise("mismatch"))
      .drop("__an", "__aa", "__dn", "__da")
  }

  /** entity frame with declared region + voxel indices — the shared
    * front half of q94/q94b. */
  private def declaredWithVoxel(customer: DataFrame, nation: DataFrame,
                                region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"),
        when(pmod(col("c_custkey"), lit(5)) === 0, col("r_name"))
          .otherwise(col("n_name")).as("declared_region"),
        voxelIndex(col("c_custkey"), 0).as("ix"),
        voxelIndex(col("c_custkey"), 1).as("iy"),
        voxelIndex(col("c_custkey"), 2).as("iz"))

  /** q94: voxel-atlas region consistency — each entity's DECLARED
    * region (customers declare at mixed granularity: every 5th key
    * declares only its coarse region, the rest their nation) versus
    * the region COMPUTED from its coordinates through the annotation
    * volume, judged on the hierarchy:
    *
    *   - `same region` — declared == computed;
    *   - `ancestor`    — computed is a proper ancestor of declared;
    *   - `descendant`  — computed is a proper descendant of declared;
    *   - `unresolved`  — the coordinates land in unclassified space
    *                     (the reference's "region not resolved" row);
    *   - `mismatch`    — disjoint branches (q95 reports their LCA).
    *
    * `agreement` is the reference's criterion: true iff same region /
    * ancestor / descendant. */
  /** unordered verdict frame — the streaming-compatible core of q94
    * (stream-static joins only: the entity side may be a stream, the
    * volume/closure sides are bounded static broadcasts). */
  def regionVerdicts(customer: DataFrame, nation: DataFrame,
                     region: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    val resolved = declaredWithVoxel(customer, nation, region)
      .join(broadcast(voxelGrid(spark, nation, region)), Seq("ix", "iy", "iz"))
    withRelationship(resolved, "declared_region", "computed_region",
        region, nation, "relationship")
      .withColumn("agreement",
        col("relationship").isin("same region", "ancestor", "descendant"))
      .select("c_custkey", "declared_region", "computed_region",
        "agreement", "relationship")
  }

  def regionConsistency(customer: DataFrame, nation: DataFrame,
                        region: DataFrame): DataFrame =
    regionVerdicts(customer, nation, region).orderBy("c_custkey")

  /** q94b: NEIGHBOUR-AWARE region consistency — the reference's
    * with_neighbours fallback (region_comparison.py:89-103 collects
    * the face-adjacent voxels' regions, :360-369 re-judges a
    * disagreeing declaration against each neighbour, one agreement
    * suffices): borderline placements (a soma microns from a boundary)
    * should not fail on voxel rounding. Per entity: the center verdict
    * (q94's, via the shared rule), the count of DISTINCT
    * face-neighbour regions differing from the center (out-of-volume
    * and unclassified neighbours drop), whether ANY neighbour agrees
    * with the declaration, and the first agreeing neighbour (name
    * order, deterministic) with its relationship.
    *
    * Scale shape: the 6-offset fan-out is a bounded ×6 explode on the
    * entity scan; volume and closure ride the same broadcasts as q94;
    * the neighbour dedup + per-entity fold are one map-side-combined
    * aggregate chain keyed by the entity — nothing data²-sized. */
  def regionConsistencyNeighbours(customer: DataFrame, nation: DataFrame,
                                  region: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    val grid = voxelGrid(spark, nation, region)
    // materialize the entity-sized center verdict ONCE (the q57
    // labels discipline): it feeds both the neighbour fan-out and the
    // final join, and the un-materialized reuse re-ran the entity scan
    // + the volume/closure joins per use.
    // CAVEAT at deployment scale: localCheckpoint pins an ENTITY-sized
    // frame in executor storage with no lineage to recover on executor
    // loss — a failure mid-query fails the query (retry = re-run).
    // Deliberate for a report query (cheap to re-run; the alternative
    // re-derives the verdict subtree per consumer); a deployment that
    // needs mid-query fault tolerance swaps this for reliable
    // checkpointing at the price of a write+read cycle.
    val center = withRelationship(
      declaredWithVoxel(customer, nation, region)
        .join(broadcast(grid), Seq("ix", "iy", "iz")),
      "declared_region", "computed_region", region, nation, "relationship")
      .localCheckpoint()
    val offCol = array(
      Seq((1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1))
        .map { case (a, b, c) =>
          struct(lit(a).as("dx"), lit(b).as("dy"), lit(c).as("dz")) }: _*)
    val gridN = grid.select(col("ix").as("jx"), col("iy").as("jy"),
      col("iz").as("jz"), col("computed_region").as("neigh_region"))
    val neigh = center
      .select(col("c_custkey"), col("declared_region"), col("computed_region"),
        col("ix"), col("iy"), col("iz"))
      .withColumn("o", explode(offCol))
      .select(col("c_custkey"), col("declared_region"), col("computed_region"),
        (col("ix") + col("o.dx")).as("jx"),
        (col("iy") + col("o.dy")).as("jy"),
        (col("iz") + col("o.dz")).as("jz"))
      .join(broadcast(gridN), Seq("jx", "jy", "jz"))
      .filter(col("neigh_region").isNotNull &&
        !(col("neigh_region") <=> col("computed_region")))
      .select("c_custkey", "declared_region", "neigh_region").distinct()
    val judged = withRelationship(neigh, "declared_region", "neigh_region",
        region, nation, "neigh_relationship")
      .withColumn("agrees", col("neigh_relationship")
        .isin("same region", "ancestor", "descendant"))
    val agg = judged.groupBy("c_custkey")
      .agg(count(lit(1)).as("n_neighbour_regions"),
        max(col("agrees")).as("neigh_agreement"),
        min(when(col("agrees"),
          struct(col("neigh_region"), col("neigh_relationship")))).as("w"))
    center
      .select("c_custkey", "declared_region", "computed_region", "relationship")
      .join(agg, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("declared_region"), col("computed_region"),
        col("relationship"),
        coalesce(col("n_neighbour_regions"), lit(0L)).as("n_neighbour_regions"),
        coalesce(col("neigh_agreement"), lit(false)).as("neigh_agreement"),
        col("w.neigh_region").as("neigh_region"),
        col("w.neigh_relationship").as("neigh_relationship"))
      .orderBy("c_custkey")
  }

  /** q95: FIRST COMMON ANCESTOR for the disagreeing pairs — the
    * reference's report column for non-agreeing regions
    * (region_comparison.py:318-329: the lowest entry of the observed
    * ancestor list shared with the declared list). One dimension-sized
    * frame per distinct (declared, computed) mismatch pair with its
    * entity count; the LCA minimises (depth from declared, depth from
    * computed, name) over the shared-ancestor join — on a tree the
    * first key already decides, the rest make the election total.
    *
    * Scale shape: the pair domain aggregate map-side-combines the
    * entity stream down to a dimension-sized frame (≤ |nodes|²); the
    * ancestor joins and the min-struct election then run on that frame
    * only — entities are never rejoined. */
  def firstCommonAncestor(customer: DataFrame, nation: DataFrame,
                          region: DataFrame): DataFrame = {
    // compose the UNORDERED verdict core: regionConsistency appends the
    // output sort, and relying on EliminateSorts to prune a sort below
    // an aggregate is an optimizer rescue, not a plan (plan-pinned:
    // no Sort below Aggregate in PlanShapeSpec)
    val pairs = regionVerdicts(customer, nation, region)
      .filter(col("relationship") === "mismatch")
      .groupBy("declared_region", "computed_region")
      .agg(count(lit(1)).as("n_entities"))
    val anc = geoAncestors(region, nation)
    pairs
      .join(broadcast(anc.select(col("node").as("declared_region"),
        col("ancestor").as("anc"), col("depth").as("d_decl"))),
        Seq("declared_region"))
      .join(broadcast(anc.select(col("node").as("computed_region"),
        col("ancestor").as("anc"), col("depth").as("d_comp"))),
        Seq("computed_region", "anc"))
      .groupBy("declared_region", "computed_region", "n_entities")
      .agg(min(struct(col("d_decl"), col("d_comp"), col("anc"))).as("m"))
      .select(col("declared_region"), col("computed_region"), col("n_entities"),
        col("m.anc").as("first_common_ancestor"),
        col("m.d_decl").as("depth_from_declared"),
        col("m.d_comp").as("depth_from_computed"))
      .orderBy("declared_region", "computed_region")
  }
}
