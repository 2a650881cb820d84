package graft.queries

import graft.QueryDef
import graft.n5.{Multiscale, N5}
import org.apache.spark.sql.functions._

/** N5 array-engine checks over the reference's golden fixture
  * (`/root/reference/data/test.n5`). DuckDB cannot read N5, but the fixture
  * is static, so q80-q84 declare their oracles as GOLDEN CONSTANTS — the
  * same values the graft.n5 test suites derive independently (raw gzip
  * block decode in BlockCodecSpec/N5SourceSpec, independent windowed-mean
  * equivalence in RoundTripSpec) — turning the driver's rows-only check
  * into a full hash-equality check against frozen expected output. q85
  * synthesizes its volume from a closed-form expression, so its oracle is
  * COMPUTED in DuckDB end-to-end (generate_series → windowed mean), no
  * constants involved.
  */
object N5Queries {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"
  /** Scratch container path, wiped first — stale blocks from an earlier
    * run with different geometry must not leak into checks.
    */
  private def tmpRoot(name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_$name.n5"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = graft.HadoopConf.fs(hp)
    if (fs.exists(hp)) fs.delete(hp, true)
    p
  }

  // the 58 inner-chunk golden rows shared by the zarr v3 scan and
  // write-round-trip oracles (q231/q232/q233): 60 grids minus the
  // missing shard's 2, fill chunk at (0,0,1) with checksum 0
  private val zarr3GoldenSql: String =
    """SELECT CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
      |  CAST(gz AS INTEGER) AS gz, CAST(sx AS INTEGER) AS sx,
      |  CAST(sy AS INTEGER) AS sy, CAST(sz AS INTEGER) AS sz,
      |  CAST(n AS INTEGER) AS n, CAST(checksum AS BIGINT) AS checksum
      |FROM (VALUES
      |  (0, 0, 0, 2, 2, 1, 4, 68),
      |  (0, 0, 1, 2, 2, 1, 4, 0),
      |  (0, 0, 2, 2, 2, 1, 4, 868),
      |  (0, 0, 3, 2, 2, 1, 4, 1268),
      |  (0, 0, 4, 2, 2, 1, 4, 1668),
      |  (0, 1, 0, 2, 2, 1, 4, 204),
      |  (0, 1, 1, 2, 2, 1, 4, 604),
      |  (0, 1, 2, 2, 2, 1, 4, 1004),
      |  (0, 1, 3, 2, 2, 1, 4, 1404),
      |  (0, 1, 4, 2, 2, 1, 4, 1804),
      |  (0, 2, 0, 2, 2, 1, 4, 340),
      |  (0, 2, 1, 2, 2, 1, 4, 740),
      |  (0, 2, 2, 2, 2, 1, 4, 1140),
      |  (0, 2, 3, 2, 2, 1, 4, 1540),
      |  (0, 2, 4, 2, 2, 1, 4, 1940),
      |  (1, 0, 0, 2, 2, 1, 4, 92),
      |  (1, 0, 1, 2, 2, 1, 4, 492),
      |  (1, 0, 2, 2, 2, 1, 4, 892),
      |  (1, 0, 3, 2, 2, 1, 4, 1292),
      |  (1, 0, 4, 2, 2, 1, 4, 1692),
      |  (1, 1, 0, 2, 2, 1, 4, 228),
      |  (1, 1, 1, 2, 2, 1, 4, 628),
      |  (1, 1, 2, 2, 2, 1, 4, 1028),
      |  (1, 1, 3, 2, 2, 1, 4, 1428),
      |  (1, 1, 4, 2, 2, 1, 4, 1828),
      |  (1, 2, 0, 2, 2, 1, 4, 364),
      |  (1, 2, 1, 2, 2, 1, 4, 764),
      |  (1, 2, 2, 2, 2, 1, 4, 1164),
      |  (1, 2, 3, 2, 2, 1, 4, 1564),
      |  (1, 2, 4, 2, 2, 1, 4, 1964),
      |  (2, 0, 0, 2, 2, 1, 4, 116),
      |  (2, 0, 1, 2, 2, 1, 4, 516),
      |  (2, 0, 2, 2, 2, 1, 4, 916),
      |  (2, 0, 3, 2, 2, 1, 4, 1316),
      |  (2, 0, 4, 2, 2, 1, 4, 1716),
      |  (2, 1, 0, 2, 2, 1, 4, 252),
      |  (2, 1, 1, 2, 2, 1, 4, 652),
      |  (2, 1, 2, 2, 2, 1, 4, 1052),
      |  (2, 1, 3, 2, 2, 1, 4, 1452),
      |  (2, 1, 4, 2, 2, 1, 4, 1852),
      |  (2, 2, 0, 2, 2, 1, 4, 388),
      |  (2, 2, 1, 2, 2, 1, 4, 788),
      |  (2, 2, 2, 2, 2, 1, 4, 1188),
      |  (2, 2, 3, 2, 2, 1, 4, 1588),
      |  (3, 0, 0, 2, 2, 1, 4, 140),
      |  (3, 0, 1, 2, 2, 1, 4, 540),
      |  (3, 0, 2, 2, 2, 1, 4, 940),
      |  (3, 0, 3, 2, 2, 1, 4, 1340),
      |  (3, 0, 4, 2, 2, 1, 4, 1740),
      |  (3, 1, 0, 2, 2, 1, 4, 276),
      |  (3, 1, 1, 2, 2, 1, 4, 676),
      |  (3, 1, 2, 2, 2, 1, 4, 1076),
      |  (3, 1, 3, 2, 2, 1, 4, 1476),
      |  (3, 1, 4, 2, 2, 1, 4, 1876),
      |  (3, 2, 0, 2, 2, 1, 4, 412),
      |  (3, 2, 1, 2, 2, 1, 4, 812),
      |  (3, 2, 2, 2, 2, 1, 4, 1212),
      |  (3, 2, 3, 2, 2, 1, 4, 1612))
      |  t(gx, gy, gz, sx, sy, sz, n, checksum)
      |ORDER BY gx, gy, gz""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Block-table scan (R1 surface): per-block shape + checksum.
    QueryDef.sql(
      "q80_n5_block_scan",
      """SELECT CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
        |  CAST(gz AS INTEGER) AS gz, CAST(sx AS INTEGER) AS sx,
        |  CAST(sy AS INTEGER) AS sy, CAST(sz AS INTEGER) AS sz,
        |  CAST(n AS INTEGER) AS n, CAST(checksum AS BIGINT) AS checksum
        |FROM (VALUES
        |  (0, 0, 0, 128, 128, 27, 442368, 18077459),
        |  (0, 1, 0, 128,  98, 27, 338688, 13598034),
        |  (1, 0, 0,  58, 128, 27, 200448,  5266225),
        |  (1, 1, 0,  58,  98, 27, 153468,  3843199))
        |  t(gx, gy, gz, sx, sy, sz, n, checksum)
        |ORDER BY gx, gy, gz""".stripMargin) { (s, _) =>
      N5.read(s, fixtureRoot, fixtureDs)
        .select(col("gx"), col("gy"), col("gz"),
          // shape flattened to scalars: the oracle harness cannot
          // sort/hash array cells
          element_at(col("shape"), 1).as("sx"),
          element_at(col("shape"), 2).as("sy"),
          element_at(col("shape"), 3).as("sz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    },

    // Element view stats (UDTF/generator row: 3-D unravel of block payloads).
    QueryDef.sql(
      "q81_n5_element_stats",
      """SELECT CAST(1134972 AS BIGINT) AS n, CAST(40784917 AS BIGINT) AS total,
        |  CAST(0 AS SMALLINT) AS mn, CAST(255 AS SMALLINT) AS mx""".stripMargin) { (s, _) =>
      N5.elementsScan(s, fixtureRoot, fixtureDs)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
    },

    // Ranged box scan with grid pruning (R1, read_n5_block semantics).
    QueryDef.sql(
      "q82_n5_readbox",
      """SELECT CAST(64000 AS BIGINT) AS n, CAST(3656865 AS BIGINT) AS total,
        |  CAST(100 AS BIGINT) AS x_min, CAST(149 AS BIGINT) AS x_max""".stripMargin) { (s, _) =>
      N5.readBox(s, fixtureRoot, fixtureDs,
        Array(100L, 100L, 0L), Array(150L, 180L, 16L))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"))
    },

    // Ad-hoc element-view box filter — no readBox, no manual grid math:
    // the N5BoxPruning analyzer rule (GraftExtensions) converts the x/y/z
    // range conjuncts to gx/gy/gz bounds and the DSv2 scan prunes to the
    // single intersecting block file (fixture block (0,1,0)) before I/O.
    QueryDef.sql(
      "q86_n5_pruned_box",
      """SELECT CAST(153600 AS BIGINT) AS n, CAST(5698252 AS BIGINT) AS total,
        |  CAST(130 AS BIGINT) AS y_min, CAST(15 AS BIGINT) AS z_max""".stripMargin) { (s, _) =>
      N5.elements(N5.read(s, fixtureRoot, fixtureDs))
        .filter(col("x") < 100 && col("y") >= 130 && col("z") < 16)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("y")).as("y_min"), max(col("z")).as("z_max"))
    },

    // Write path + round trip (R2/R4 surface): rechunk to 64^3 gzip and
    // verify voxel-sum equality inside the query output.
    QueryDef.sql(
      "q83_n5_roundtrip",
      """SELECT CAST(1134972 AS BIGINT) AS orig_n, CAST(1134972 AS BIGINT) AS rt_n,
        |  CAST(40784917 AS BIGINT) AS orig_sum, CAST(40784917 AS BIGINT) AS rt_sum,
        |  CAST(1 AS INTEGER) AS ok""".stripMargin) { (s, _) =>
      val out = tmpRoot("rt")
      N5.rechunk(s, fixtureRoot, fixtureDs, out, "vol/s0", Array(64, 64, 64))
      val orig = N5.elementsScan(s, fixtureRoot, fixtureDs)
        .agg(sum(col("v")).as("orig_sum"), count(lit(1)).as("orig_n"))
      val rt = N5.elementsScan(s, out, "vol/s0")
        .agg(sum(col("v")).as("rt_sum"), count(lit(1)).as("rt_n"))
      orig.crossJoin(rt)
        .select(col("orig_n"), col("rt_n"), col("orig_sum"), col("rt_sum"),
          (col("orig_sum") === col("rt_sum")
            && col("orig_n") === col("rt_n")).cast("int").as("ok"))
    },

    // Ranged box UPSERT (R2, write_n5_block semantics with the reference's
    // lost-write bug fixed): rechunk the fixture to a scratch copy, overwrite
    // a block-boundary-crossing box with a closed-form pattern, verify the
    // box took the new values and everything outside is preserved exactly.
    QueryDef.sql(
      "q87_n5_writebox",
      """SELECT CAST(1134972 AS BIGINT) AS n, CAST(49245517 AS BIGINT) AS total,
        |  CAST(18013800 AS BIGINT) AS box_sum, CAST(1 AS INTEGER) AS ok""".stripMargin) { (s, _) =>
      val out = tmpRoot("wbq")
      N5.rechunk(s, fixtureRoot, fixtureDs, out, "vol/s0", Array(64, 64, 64))
      val start = Array(10L, 20L, 3L)
      val end = Array(150L, 100L, 20L)
      val patch = N5.boxGrid(s, start, end)
        .select(col("x"), col("y"), col("z"),
          ((col("x") + col("y") * 2 + col("z") * 3) % 200).as("v"))
      // golden constants (independently derived from the fixture decode +
      // the closed-form patch): fixture sum 40784917, box-region sum before
      // the patch 9553200, patch sum 18013800 — recomputing them here would
      // add three full read jobs per bench run for values that cannot change
      val beforeSum = 40784917L
      val oldBox = 9553200L
      val newBox = 18013800L
      N5.writeBox(s, out, "vol/s0", start, end, patch)
      N5.elementsScan(s, out, "vol/s0")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
        .crossJoin(N5.readBox(s, out, "vol/s0", start, end)
          .agg(sum(col("v")).as("box_sum")))
        .select(col("n"), col("total"), col("box_sum"),
          (col("total") === beforeSum - oldBox + newBox
            && col("box_sum") === newBox).cast("int").as("ok"))
    },

    // Multiscale pyramid (R9): s1 windowed mean, trim boundary. Golden
    // total independently confirmed by RoundTripSpec's element-groupBy
    // mean equivalence on the same fixture.
    QueryDef.sql(
      "q84_n5_multiscale",
      """SELECT CAST(136617 AS BIGINT) AS n, CAST(4950560 AS BIGINT) AS total,
        |  '93x113x13' AS dims""".stripMargin) { (s, _) =>
      val out = tmpRoot("ms")
      N5.rechunk(s, fixtureRoot, fixtureDs, out, "vol/s0", Array(128, 128, 128))
      val attrs = Multiscale.downsampleLevel(s, out, "vol", 1, Array(2, 2, 2))
      N5.elementsScan(s, out, "vol/s1")
        .agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("total"))
        .withColumn("dims", lit(attrs.dimensions.mkString("x")))
    },

    // Group scan (SURVEY §1.4 channel/level virtual columns): one block
    // table across the group's c*/s* datasets; per-(channel,level) block
    // count + element stats. Fixture has exactly c0/s0 → golden constants
    // shared with q80/q81. Multi-channel/multi-level trees + literal-fold
    // pruning are covered by N5GroupSpec.
    QueryDef.sql(
      "q88_n5_group_scan",
      """SELECT CAST(0 AS INTEGER) AS channel, CAST(0 AS INTEGER) AS lvl,
        |  CAST(4 AS BIGINT) AS n_blocks, CAST(1134972 AS BIGINT) AS n_elems,
        |  CAST(40784917 AS BIGINT) AS total""".stripMargin) { (s, _) =>
      N5.readGroup(s, fixtureRoot, "mri")
        .select(col("channel"), col("level").as("lvl"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("bsum"))
        .groupBy(col("channel"), col("lvl"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("n")).cast("long").as("n_elems"),
          sum(col("bsum")).as("total"))
        .orderBy(col("channel"), col("lvl"))
    },

    // Bulk-volume throughput: synthesize a 256x256x64 (4.2M voxel) volume,
    // write 64^3 blocks, fragment-rechunk to 96^3, derive one multiscale
    // level — the full volume dataflow at a size where per-block work, the
    // fragment shuffle, and the reduction all register in the bench.
    QueryDef.sql(
      "q85_n5_bulk_pipeline",
      """WITH e AS (
        |  SELECT i % 256 AS x, (i // 256) % 256 AS y, i // 65536 AS z,
        |         ((i % 256) * 7 + ((i // 256) % 256) * 13 + (i // 65536) * 29) % 256 AS v
        |  FROM (SELECT unnest(generate_series(0, 4194303)) AS i)
        |),
        |s0 AS (SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(v) AS BIGINT) AS sum0 FROM e),
        |s1c AS (SELECT x // 2 AS xx, y // 2 AS yy, z // 2 AS zz,
        |          CAST(floor(avg(v)) AS BIGINT) AS m
        |        FROM e GROUP BY xx, yy, zz),
        |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(m) AS BIGINT) AS sum1 FROM s1c)
        |SELECT s0.n0, s0.sum0, s1.n1, s1.sum1 FROM s0, s1""".stripMargin) { (s, _) =>
      import graft.n5.{Compression, DatasetAttributes, Dtype}
      val out = tmpRoot("bulk")
      val dims = Array(256L, 256L, 64L)
      val attrs = DatasetAttributes(dims, Array(64, 64, 64), Dtype.UInt8,
        Compression("gzip"))
      val elems = s.range(dims.product)
        .select((col("id") % dims(0)).as("x"),
          ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
          (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
        .select(col("x"), col("y"), col("z"),
          ((col("x") * 7 + col("y") * 13 + col("z") * 29) % 256).as("v"))
      N5.write(N5.blocksFromElements(elems, attrs,
        org.apache.spark.sql.types.ShortType), out, "vol/s0", attrs)
      graft.n5.Regroup.rechunkBlocks(s, out, "vol/s0", out, "re/s0",
        Array(96, 96, 96))
      Multiscale.downsampleLevel(s, out, "re", 1, Array(2, 2, 2))
      val a = N5.elementsScan(s, out, "re/s0")
        .agg(count(lit(1)).as("n0"), sum(col("v")).as("sum0"))
      val b = N5.elementsScan(s, out, "re/s1")
        .agg(count(lit(1)).as("n1"), sum(col("v").cast("long")).as("sum1"))
      a.crossJoin(b)
    },

    // ------------------------------------------------------------------
    // DISTRIBUTED 3-D CONNECTED COMPONENTS (q190, r13) — instance
    // labeling over the chunked volume, the canonical scientific-imaging
    // analysis the reference's ecosystem runs downstream of ingest (cell
    // counting, organelle segmentation post-processing). The operator
    // (`operators/VolumeCC`) labels each block locally (in-task union-
    // find, full grid parallelism), stitches ONLY block faces (the
    // exchange is O(n^(2/3)) surface area, never volume), closes label
    // equivalences with the boundary-label-sized ConnectedComponents
    // pass, and sums per-component voxel counts. Component ids are the
    // cluster's minimum global voxel index — engine- and chunking-
    // independent (VolumeCCSpec pins equality with a naive whole-volume
    // BFS AND invariance under a 32-cube rechunk). Oracle: golden
    // constants (q80 discipline) — the fixture's top-10 components at
    // threshold 128, independently confirmed by the spec's naive BFS.
    QueryDef.sql(
      "q190_volume_cc",
      """SELECT CAST(rnk AS INTEGER) AS rnk,
        |  CAST(component AS BIGINT) AS component,
        |  CAST(n_voxels AS BIGINT) AS n_voxels
        |FROM (VALUES
        |  ( 1,    7955, 12945),
        |  ( 2,    6990,   966),
        |  ( 3,    6775,   947),
        |  ( 4,    9897,   255),
        |  ( 5,    3443,   191),
        |  ( 6,  801185,   129),
        |  ( 7,   14016,   120),
        |  ( 8,  997362,   119),
        |  ( 9,  142255,   103),
        |  (10, 1078835,    97))
        |  t(rnk, component, n_voxels)
        |ORDER BY rnk""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val comps = graft.operators.VolumeCC.components(
        N5.read(s, fixtureRoot, fixtureDs), 186L, 226L, threshold = 128L)
      // top-10 via TakeOrdered (r15: never a global window over the
      // whole component table — at 100 TB that's millions of rows in
      // one reducer); the rank window runs over the 10-row result only
      comps.orderBy(col("n_voxels").desc, col("component").asc).limit(10)
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("n_voxels").desc, col("component").asc)))
        .select(col("rnk"), col("component"), col("n_voxels"))
        .orderBy(col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // REGION PROPS (q191, r13) — the measurement table published after
    // q190's labeling: per component, voxel count, axis-aligned bounding
    // box, and e4 fixed-point centroid (the skimage.regionprops /
    // cell-measurement standard). Every voxel-level quantity folds
    // block-locally into constant-size per-label accumulators; the
    // closure map joins label-sized rows; min/max/sum are associative so
    // the result is partitioning-independent, and centroids are exact
    // integer arithmetic (floor(1e4·Σx/n + 0.5)). Oracle: golden
    // constants confirmed by VolumeCCSpec's independent whole-volume
    // union-find over the element view (all 1011 components compared,
    // not just these 10).
    QueryDef.sql(
      "q191_volume_region_props",
      """SELECT CAST(rnk AS INTEGER) AS rnk,
        |  CAST(component AS BIGINT) AS component,
        |  CAST(n_voxels AS BIGINT) AS n_voxels,
        |  CAST(x_min AS BIGINT) AS x_min, CAST(x_max AS BIGINT) AS x_max,
        |  CAST(y_min AS BIGINT) AS y_min, CAST(y_max AS BIGINT) AS y_max,
        |  CAST(z_min AS BIGINT) AS z_min, CAST(z_max AS BIGINT) AS z_max,
        |  CAST(cx_e4 AS BIGINT) AS cx_e4, CAST(cy_e4 AS BIGINT) AS cy_e4,
        |  CAST(cz_e4 AS BIGINT) AS cz_e4
        |FROM (VALUES
        |  ( 1,    7955, 12945,  11, 171,   3, 219,  0, 23,  935975, 1102293, 105847),
        |  ( 2,    6990,   966, 107, 137,  35,  73,  0,  6, 1198075,  540704,  33602),
        |  ( 3,    6775,   947,  51,  81,  36,  72,  0,  6,  684509,  544118,  31690),
        |  ( 4,    9897,   255,  24,  39,  53,  97,  0,  5,  302235,  761804,  28078),
        |  ( 5,    3443,   191,  93,  99,  18,  51,  0,  4,  958220,  338272,   9267),
        |  ( 6,  801185,   129,  72, 130,  13,  33, 19, 19, 1022558,  186124, 190000),
        |  ( 7,   14016,   120,  65,  79,  72,  83,  0,  4,  731917,  778417,  17167),
        |  ( 8,  997362,   119,  30,  46, 152, 176, 23, 24,  364958, 1662269, 235378),
        |  ( 9,  142255,   103, 151, 163,  86, 107,  3,  5, 1563786,  941262,  40000),
        |  (10, 1078835,    97,  33,  59, 150, 174, 25, 25,  433711, 1625876, 250000))
        |  t(rnk, component, n_voxels, x_min, x_max, y_min, y_max,
        |    z_min, z_max, cx_e4, cy_e4, cz_e4)
        |ORDER BY rnk""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      graft.operators.VolumeCC.regionProps(
          N5.read(s, fixtureRoot, fixtureDs), 186L, 226L, threshold = 128L)
        // top-10 via TakeOrdered, rank over the bounded slice (r15 — the
        // q190 migration note)
        .orderBy(col("n_voxels").desc, col("component").asc).limit(10)
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("n_voxels").desc, col("component").asc)))
        .select(col("rnk"), col("component"), col("n_voxels"),
          col("x_min"), col("x_max"), col("y_min"), col("y_max"),
          col("z_min"), col("z_max"),
          col("cx_e4"), col("cy_e4"), col("cz_e4"))
        .orderBy(col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // MAXIMUM-INTENSITY PROJECTION (q192, r13) — the standard volume →
    // 2-D preview/QC reduction (fluorescence microscopy's default view):
    // MIP(x, y) = max over z of v(x, y, z). Plan shape: the COLUMNAR
    // element view scans each block as its own partition, so the
    // groupBy(x, y) max aggregates block-locally first (map-side partial
    // max over each block's z-extent) and the exchange carries one row
    // per (x, y, block-column) — the projected image's size times the
    // z-chunking, never the volume. Output pins the whole projection
    // (count + sum + max) plus the 5 brightest pixels in a total order.
    // Oracle: golden constants (q80 discipline) over the fixture.
    QueryDef.sql(
      "q192_volume_mip",
      """SELECT CAST(n_pixels AS BIGINT) AS n_pixels,
        |  CAST(mip_sum AS BIGINT) AS mip_sum,
        |  CAST(mip_max AS BIGINT) AS mip_max,
        |  CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CAST(v AS BIGINT) AS v, CAST(rnk AS INTEGER) AS rnk
        |FROM (VALUES
        |  (42036, 3415830, 255,  19, 159, 255, 1),
        |  (42036, 3415830, 255, 138, 200, 251, 2),
        |  (42036, 3415830, 255, 140, 199, 242, 3),
        |  (42036, 3415830, 255,  58, 208, 239, 4),
        |  (42036, 3415830, 255,  20, 161, 236, 5))
        |  t(n_pixels, mip_sum, mip_max, x, y, v, rnk)
        |ORDER BY rnk""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val mip = N5.elementsScan(s, fixtureRoot, fixtureDs)
        .groupBy(col("x"), col("y"))
        .agg(max(col("v").cast("long")).as("v"))
      val stats = mip.agg(count(lit(1)).as("n_pixels"),
        sum(col("v")).as("mip_sum"), max(col("v")).as("mip_max"))
      // top-5 via TakeOrdered (never a projection-sized global window);
      // the rank window then runs over the 5-row result only
      mip.orderBy(col("v").desc, col("x").asc, col("y").asc).limit(5)
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("v").desc, col("x").asc, col("y").asc)))
        .crossJoin(stats)
        .select(col("n_pixels"), col("mip_sum"), col("mip_max"),
          col("x"), col("y"), col("v"), col("rnk"))
        .orderBy(col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // LABEL-VOLUME MATERIALIZATION (q193, r13) — the segmentation
    // artifact a pipeline actually SHIPS: q190's component assignment
    // written back as a uint32 N5 dataset (background 0, foreground
    // component+1) and re-read for verification — the full
    // read → label → write → re-read loop over the reference's own
    // format. The closure map is boundary-label-sized and broadcast
    // into a second block-local pass, so per-voxel labels resolve with
    // zero shuffles; the write's block regrouping (the patch-row
    // element→block path) is the only volume-sized exchange, exactly
    // once. Golden constants over the RE-READ volume: foreground count,
    // distinct components, and the top-5 (component, size) — which must
    // match q190's sizes by construction.
    QueryDef.sql(
      "q193_volume_label_writeback",
      """SELECT CAST(n_fg AS BIGINT) AS n_fg,
        |  CAST(n_components AS BIGINT) AS n_components,
        |  CAST(component AS BIGINT) AS component,
        |  CAST(n_voxels AS BIGINT) AS n_voxels,
        |  CAST(rnk AS INTEGER) AS rnk
        |FROM (VALUES
        |  (20282, 1011, 7955, 12945, 1),
        |  (20282, 1011, 6990,   966, 2),
        |  (20282, 1011, 6775,   947, 3),
        |  (20282, 1011, 9897,   255, 4),
        |  (20282, 1011, 3443,   191, 5))
        |  t(n_fg, n_components, component, n_voxels, rnk)
        |ORDER BY rnk""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      import graft.n5.{Compression, DatasetAttributes, Dtype}
      val tmp = java.nio.file.Files.createTempDirectory("labelvol").toString
      val elems = graft.operators.VolumeCC.labelVolume(
        N5.read(s, fixtureRoot, fixtureDs), 186L, 226L, threshold = 128L)
      val attrs = DatasetAttributes(Array(186L, 226L, 27L),
        Array(64, 64, 64), Dtype.UInt32, Compression("gzip"))
      N5.write(N5.blocksFromElements(elems, attrs,
        org.apache.spark.sql.types.LongType), tmp, "labels/s0", attrs)
      val back = N5.elementsScan(s, tmp, "labels/s0")
        .filter(col("v") > 0)
        .select((col("v").cast("long") - 1L).as("component"))
      val sizes = back.groupBy(col("component"))
        .agg(count(lit(1)).as("n_voxels"))
      val stats = sizes.agg(sum(col("n_voxels")).as("n_fg"),
        count(lit(1)).as("n_components"))
      sizes.orderBy(col("n_voxels").desc, col("component").asc).limit(5)
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("n_voxels").desc, col("component").asc)))
        .crossJoin(stats)
        .select(col("n_fg"), col("n_components"),
          col("component"), col("n_voxels"), col("rnk"))
        .orderBy(col("rnk").asc)
    },

    // ------------------------------------------------------------------
    // OTSU AUTO-THRESHOLD (q194, r13) — the classic data-driven
    // segmentation threshold (Otsu 1979, public): maximize the
    // between-class variance ω0·ω1·(μ0−μ1)² over the intensity
    // histogram. Plan shape: the distributed work is ONE map-side-
    // combined histogram agg over the columnar element scan (output
    // bounded by the dtype's value domain — ≤256 rows for uint8 at ANY
    // volume size); the Otsu sweep itself folds the collected histogram
    // on the driver (metadata-cheap, the bloom-build discipline).
    // Foreground = v > t. Oracle: golden constants independently derived
    // by a from-scratch python N5 reader (raw gzip block decode, no
    // engine code) — threshold 35, 569,513 foreground voxels.
    QueryDef.sql(
      "q194_volume_otsu",
      """SELECT CAST(35 AS INTEGER) AS threshold,
        |  CAST(569513 AS BIGINT) AS n_fg,
        |  CAST(42204 AS BIGINT) AS mu_bg_e4,
        |  CAST(674233 AS BIGINT) AS mu_fg_e4,
        |  CAST(9986416 AS BIGINT) AS var_e4""".stripMargin) { (s, _) =>
      import s.implicits._
      val hRows = N5.elementsScan(s, fixtureRoot, fixtureDs)
        .groupBy(col("v").cast("int").as("v"))
        .agg(count(lit(1)).as("n"))
        .collect() // bounded by the dtype domain (≤256 rows)
      val h = new Array[Long](256)
      hRows.foreach(r => h(r.getInt(0)) = r.getLong(1))
      val total = h.sum
      val allSum = h.zipWithIndex.map { case (n, v) => n * v.toLong }.sum
      var bestT = -1; var bestVar = -1.0
      var cum = 0L; var cumSum = 0L
      var t = 0
      while (t < 256) {
        cum += h(t); cumSum += t.toLong * h(t)
        if (cum != 0L && cum != total) {
          val w0 = cum.toDouble / total; val w1 = 1.0 - w0
          val mu0 = cumSum.toDouble / cum
          val mu1 = (allSum - cumSum).toDouble / (total - cum)
          val v = w0 * w1 * (mu0 - mu1) * (mu0 - mu1)
          if (v > bestVar) { bestVar = v; bestT = t }
        }
        t += 1
      }
      val nFg = h.zipWithIndex.collect {
        case (n, v) if v > bestT => n }.sum
      val fgSum = h.zipWithIndex.collect {
        case (n, v) if v > bestT => n * v.toLong }.sum
      def e4(x: Double) = math.floor(10000.0 * x + 0.5).toLong
      Seq((bestT, nFg, e4((allSum - fgSum).toDouble / (total - nFg)),
          e4(fgSum.toDouble / nFg), e4(bestVar)))
        .toDF("threshold", "n_fg", "mu_bg_e4", "mu_fg_e4", "var_e4")
    },

    // ------------------------------------------------------------------
    // ZARR v2 CONTAINER SCAN (q204, r14) — the sibling format of the
    // reference's own ecosystem (it reads N5 *through* zarr's N5Store,
    // n5_to_tif.py:25). The same DSv2 source auto-detects `.zarray`
    // metadata and reads C-order, headerless, fill-padded chunks through
    // the identical block contract: dims reversed into x-fastest order,
    // edge chunks trimmed, pushed gx/gy/gz predicates pruning chunk
    // FILES (one flat listing for "."-separated stores). The golden
    // constants are from tools/gen_zarr_fixture.py — an INDEPENDENT
    // writer of the public zarr spec (numpy + stdlib zlib, no zarr
    // import), so this oracle crosses two implementations. ZarrSpec
    // covers elements, pruning, the N5 re-encode round trip, "/"
    // separators, sparse chunks, and loud unsupported-profile rejects.
    QueryDef.sql(
      "q204_zarr_scan",
      """SELECT CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
        |  CAST(gz AS INTEGER) AS gz, CAST(sx AS INTEGER) AS sx,
        |  CAST(sy AS INTEGER) AS sy, CAST(sz AS INTEGER) AS sz,
        |  CAST(n AS INTEGER) AS n, CAST(checksum AS BIGINT) AS checksum
        |FROM (VALUES
        |  (0, 0, 0, 4, 3, 2, 24, 13836),
        |  (0, 0, 1, 4, 3, 2, 24, 61836),
        |  (0, 0, 2, 4, 3, 1, 12, 48918),
        |  (0, 1, 0, 4, 3, 2, 24, 17940),
        |  (0, 1, 1, 4, 3, 2, 24, 65940),
        |  (0, 1, 2, 4, 3, 1, 12, 50970),
        |  (0, 2, 0, 4, 1, 2, 8, 6892),
        |  (0, 2, 1, 4, 1, 2, 8, 22892),
        |  (0, 2, 2, 4, 1, 1, 4, 17446),
        |  (1, 0, 0, 4, 3, 2, 24, 15084),
        |  (1, 0, 1, 4, 3, 2, 24, 63084),
        |  (1, 0, 2, 4, 3, 1, 12, 49542),
        |  (1, 1, 0, 4, 3, 2, 24, 19188),
        |  (1, 1, 1, 4, 3, 2, 24, 67188),
        |  (1, 1, 2, 4, 3, 1, 12, 51594),
        |  (1, 2, 0, 4, 1, 2, 8, 7308),
        |  (1, 2, 1, 4, 1, 2, 8, 23308),
        |  (1, 2, 2, 4, 1, 1, 4, 17654),
        |  (2, 0, 0, 3, 3, 2, 18, 12132),
        |  (2, 0, 1, 3, 3, 2, 18, 48132),
        |  (2, 0, 2, 3, 3, 1, 9, 37566),
        |  (2, 1, 0, 3, 3, 2, 18, 15210),
        |  (2, 1, 1, 3, 3, 2, 18, 51210),
        |  (2, 1, 2, 3, 3, 1, 9, 39105),
        |  (2, 2, 0, 3, 1, 2, 6, 5754),
        |  (2, 2, 1, 3, 1, 2, 6, 17754),
        |  (2, 2, 2, 3, 1, 1, 3, 13377))
        |  t(gx, gy, gz, sx, sy, sz, n, checksum)
        |ORDER BY gx, gy, gz""".stripMargin) { (s, _) =>
      N5.read(s, "/root/repo/fixtures/zarr_golden", "vol")
        .select(col("gx"), col("gy"), col("gz"),
          element_at(col("shape"), 1).as("sx"),
          element_at(col("shape"), 2).as("sy"),
          element_at(col("shape"), 3).as("sz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    },

    // ------------------------------------------------------------------
    // ZARR v3 SHARDED SCAN (q231, r18) -- the array ecosystem's CURRENT
    // default format (zarr.json metadata, sharding-codec stores): the
    // same DSv2 source auto-detects zarr.json next to the v2 .zarray
    // path and reads the sharding_indexed layout end to end -- "c/"-
    // prefixed default chunk keys name SHARD files; each shard's
    // u64-pair index (crc32c-verified, at index_location "end") slices
    // per-inner-chunk byte ranges; inner chunks decode through the
    // [bytes LE, gzip, crc32c] chain and fill-pad-trim exactly like v2;
    // an all-ones index entry reconstructs as fill zeros (the checksum-0
    // row below) while a wholly missing shard file lists no rows --
    // zarr semantics at the index level, engine sparse semantics at the
    // file level. The golden constants are from tools/gen_zarr3_fixture
    // .py, an INDEPENDENT from-scratch writer of the public v3 core +
    // sharding specs (numpy + stdlib gzip + table-driven CRC32C, no
    // zarr import). Zarr3Spec covers the non-sharded/big-endian/"."-key
    // profile, crc corruption, pruned shard expansion, and loud
    // transpose/fill/write rejects.
    QueryDef.sql(
      "q231_zarr3_sharded_scan",
      zarr3GoldenSql) { (s, _) =>
      N5.read(s, "/root/repo/fixtures/zarr3_golden", "vol")
        .select(col("gx"), col("gy"), col("gz"),
          element_at(col("shape"), 1).as("sx"),
          element_at(col("shape"), 2).as("sy"),
          element_at(col("shape"), 3).as("sz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    },

    // ------------------------------------------------------------------
    // ZARR v3 WRITE ROUND TRIP (q232, r18) -- the write half of q231:
    // the sharded v3 golden re-encodes as a NON-sharded v3 container
    // (fill-padded little-endian gzip chunks, each with a trailing
    // crc32c the reader verifies and strips, default "c/"-prefixed
    // keys, one zarr.json committed AFTER the data by the same
    // atomic-rename writer) and re-reads through the DSv2 source; the
    // result must equal q231's independently-derived golden rows --
    // the source's index-missing fill chunk writes as a zeros chunk
    // (checksum-0 row) and the missing shard's grids stay absent.
    // The written container FORMAT is validated by a second
    // implementation: tools/check_zarr3_write.py decodes an engine-
    // written store with numpy + stdlib gzip + its own CRC32C (run in
    // Zarr3Spec). Sharded v3 writes and non-v3 compressors reject
    // loudly (also pinned there).
    QueryDef.sql(
      "q232_zarr3_write_roundtrip",
      zarr3GoldenSql) { (s, _) =>
      import graft.n5.{Compression, N5Meta}
      val tmp = java.nio.file.Files.createTempDirectory("zarr3wr").toString
      val src = N5Meta.datasetAttributes("/root/repo/fixtures/zarr3_golden", "vol")
      val out = src.copy(compression = Compression("gzip", 6), shard = None,
        zarr3Crc = true, zarr3ChunkPrefix = true, zarrSeparator = "/")
      N5.writeZarr3(N5.read(s, "/root/repo/fixtures/zarr3_golden", "vol"),
        tmp, "copy", out)
      N5.read(s, tmp, "copy")
        .select(col("gx"), col("gy"), col("gz"),
          element_at(col("shape"), 1).as("sx"),
          element_at(col("shape"), 2).as("sy"),
          element_at(col("shape"), 3).as("sz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    },

    // ------------------------------------------------------------------
    // ZARR v3 SHARDED WRITE ROUND TRIP (q233, r19) -- completes the v3
    // lifecycle q231/q232 opened: the sharded golden re-SHARDS through
    // the engine's sharding_indexed writer and re-reads through the
    // ranged-read scan. Scale story: N5.writeZarr3 CLUSTERS the block
    // table on the shard grid (one shuffle keyed by shard, the same
    // partitioning the read side consumes) and each task STREAMS its
    // shards chunk-by-chunk with the u64-pair index (+crc32c) appended
    // at the end -- O(one chunk + index) writer memory, so GB-scale
    // shards (the format's whole point) never materialize in the JVM.
    // Absent inner chunks stamp all-ones index entries (fill); a shard
    // split across tasks is caught at commit BEFORE metadata publishes.
    // The written shards are validated by a second implementation
    // (tools/check_zarr3_write.py's sharded mode, run in Zarr3Spec);
    // the oracle is the same independently-derived 58-row golden as
    // q231 -- the source's index-missing fill chunk round-trips as a
    // checksum-0 row and the missing shard's file stays absent.
    QueryDef.sql(
      "q233_zarr3_sharded_write_roundtrip",
      zarr3GoldenSql) { (s, _) =>
      import graft.n5.N5Meta
      val tmp = java.nio.file.Files.createTempDirectory("zarr3shwr").toString
      // the source profile IS the write profile: inner [bytes LE,
      // gzip 6, crc32c], index [bytes LE, crc32c] at end, 2x2x2 cps
      val src = N5Meta.datasetAttributes("/root/repo/fixtures/zarr3_golden", "vol")
      N5.writeZarr3(N5.read(s, "/root/repo/fixtures/zarr3_golden", "vol"),
        tmp, "copy", src)
      N5.read(s, tmp, "copy")
        .select(col("gx"), col("gy"), col("gz"),
          element_at(col("shape"), 1).as("sx"),
          element_at(col("shape"), 2).as("sy"),
          element_at(col("shape"), 3).as("sz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    },

    // ------------------------------------------------------------------
    // ZARR v2 WRITE ROUND TRIP (q211, r14) — the write half of q204: the
    // reference's own 4-block uint8 fixture is re-encoded as a zarr v2
    // container (C-order fill-padded zlib chunks + .zarray, committed
    // after the data by the same atomic-rename writer as N5) and re-read
    // through the DSv2 source; per-block counts and sums must equal the
    // independently-derived fixture constants (BlockCodecSpec's python
    // gzip+struct goldens), closing the N5 → zarr → scan loop. The
    // written-container FORMAT itself is validated by a second
    // implementation: tools/check_zarr_write.py decodes an engine-written
    // store with numpy + stdlib zlib only (27 chunks, 385/385 voxels —
    // run and recorded in SWEEP_r14.md).
    QueryDef.sql(
      "q211_zarr_write_roundtrip",
      """SELECT CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
        |  CAST(gz AS INTEGER) AS gz, CAST(n AS INTEGER) AS n,
        |  CAST(total AS BIGINT) AS total
        |FROM (VALUES
        |  (0, 0, 0, 442368, 18077459),
        |  (0, 1, 0, 338688, 13598034),
        |  (1, 0, 0, 200448, 5266225),
        |  (1, 1, 0, 153468, 3843199))
        |  t(gx, gy, gz, n, total)
        |ORDER BY gx, gy, gz""".stripMargin) { (s, _) =>
      import graft.n5.{Compression, DatasetAttributes, N5Meta}
      val tmp = java.nio.file.Files.createTempDirectory("zarrwr").toString
      val a = N5Meta.datasetAttributes(fixtureRoot, fixtureDs)
      val zattrs = DatasetAttributes(a.dimensions, a.blockSize, a.dataType,
        Compression("zlib", 6), format = "zarr")
      N5.writeZarr(N5.read(s, fixtureRoot, fixtureDs), tmp, "vol", zattrs)
      N5.read(s, tmp, "vol")
        .select(col("gx"), col("gy"), col("gz"),
          size(col("data")).as("n"),
          aggregate(col("data"), lit(0L), (acc, x) => acc + x).as("total"))
        .orderBy(col("gx"), col("gy"), col("gz"))
    }
  )
}
