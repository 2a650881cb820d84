package graft.n5

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Public N5 API over the DSv2 connector: block tables, element views, and
  * block reassembly (the Spark-native equivalents of the reference's
  * read/slice/rechunk/write surface — `n5_utils.py`, `tif_to_n5.py:22`).
  */
object N5 {

  /** Reject non-integral numeric input BEFORE an integer cast — ANSI cast
    * only errors on overflow, so 3.7 would otherwise truncate to 3
    * silently (the fail-loudly discipline, `n5_to_tif.py:28`).
    */
  private[graft] def integralOrRaise(v: Column, what: String): Column =
    when(v =!= v.cast("bigint"),
      raise_error(concat(lit(s"$what: non-integral value "), v.cast("string"))))
      .otherwise(v).cast("bigint")

  /** Block table of a dataset: one row per stored block. */
  def read(spark: SparkSession, root: String, dataset: String): DataFrame =
    spark.read.format("n5").option("dataset", dataset).load(root)

  /** Group block table (SURVEY §1.4): one row per block across every
    * channel/level dataset of an N5 group — the reference's `c{c}/{s{l}}`
    * sibling-path layout (`ometif_to_n5.py:111-116`, fixture `mri/c0/s0`)
    * surfaced as `channel INT, level INT` columns, the Spark analogue of
    * partition columns. A channel-less pyramid (`group/s0, group/s1, …`)
    * maps to channel 0.
    *
    * channel/level ride as LITERALS on each union branch, so a filter like
    * `col("level") === 0` constant-folds every non-matching branch to an
    * empty relation at optimization time — whole datasets are pruned
    * before any directory walk or I/O, with no custom pushdown code
    * (pinned in `N5GroupSpec`).
    */
  def readGroup(spark: SparkSession, root: String, group: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(root, group)
    val fs = graft.HadoopConf.fs(base)
    require(fs.exists(base), s"no N5 group at $base")
    val chRe = "c(\\d+)".r
    val lvRe = "s(\\d+)".r
    def dirs(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
    val children = dirs(base)
    val channels: Seq[(Int, String)] = {
      val cs = children.collect { case n @ chRe(c) => (c.toInt, s"$group/$n") }
      // a hybrid layout (c* dirs NEXT TO top-level s* datasets) would
      // silently drop the channel-less datasets — fail loudly instead
      require(cs.isEmpty || !children.exists(lvRe.matches),
        s"group $group mixes c* channel dirs with top-level s* datasets")
      if (cs.isEmpty) Seq((0, group)) else cs.sortBy(_._1)
    }
    // zero-padded duplicates (c1 vs c01, s1 vs s01) would parse to the
    // same id and silently double-count blocks under one label
    require(channels.map(_._1).distinct.size == channels.size,
      s"group $group has duplicate channel ids: " +
        channels.map(_._2).mkString(", "))
    val datasets: Seq[(Int, Int, String)] = channels.flatMap { case (c, path) =>
      val ls = dirs(new org.apache.hadoop.fs.Path(root, path))
        .collect { case n @ lvRe(l) => (c, l.toInt, s"$path/$n") }
        .sortBy(_._2)
      require(ls.map(_._2).distinct.size == ls.size,
        s"$path has duplicate level ids: " + ls.map(_._3).mkString(", "))
      if (ls.nonEmpty) ls
      else {
        // no s* convention — a FOREIGN OME-NGFF pyramid may still
        // declare its levels (with arbitrary names like "0", "1") in the
        // group .zattrs multiscales metadata; level = declared position
        // (r16, VERDICT r15 #7; the engine writes this metadata since
        // r15, now it also discovers by it)
        N5Meta.ngffMultiscaleDatasets(root, path).zipWithIndex
          .map { case (rel, l) => (c, l, s"$path/$rel") }
      }
    }
    require(datasets.nonEmpty,
      s"group $group has no c*/s* datasets and no NGFF multiscales metadata")
    val dtypes = datasets
      .map { case (_, _, ds) => N5Meta.datasetAttributes(root, ds).dataType }
      .distinct
    require(dtypes.size == 1,
      s"group $group mixes dtypes ${dtypes.map(_.name).mkString(",")} — " +
        "scan channels/levels separately")
    datasets.map { case (c, l, ds) =>
      read(spark, root, ds)
        .withColumn("channel", lit(c))
        .withColumn("level", lit(l))
    }.reduce(_ unionByName _)
  }

  /** Dense (x,y,z) coordinate table for the box [start, end), x-fastest —
    * the single source of the id→coordinate unravel used by box-shaped
    * generators (q87, specs) so the layout can never drift from the
    * element view's.
    */
  def boxGrid(
      spark: SparkSession, start: Array[Long], end: Array[Long]): DataFrame = {
    val Array(dx, dy, dz) = start.zip(end).map { case (s, e) => e - s }
    require(dx > 0 && dy > 0 && dz > 0,
      s"empty box [${start.mkString(",")}, ${end.mkString(",")})")
    spark.range(dx * dy * dz).select(
      expr(s"id % $dx + ${start(0)}").as("x"),
      expr(s"(id div $dx) % $dy + ${start(1)}").as("y"),
      expr(s"id div ${dx * dy} + ${start(2)}").as("z"))
  }

  /** Write a block table (gx,gy,gz,shape,data) as a dataset. Dispatches
    * on the attrs' declared container format (r15): `format = "zarr"`
    * attrs — e.g. a pyramid level derived from a zarr s0 — route through
    * [[writeZarr]] with their own separator, so derivation operators
    * (Multiscale, Regroup) stay format-agnostic and never write N5
    * metadata into a zarr store.
    */
  def write(
      df: DataFrame, root: String, dataset: String, attrs: DatasetAttributes,
      extraAttrs: Map[String, String] = Map.empty): Unit =
    if (attrs.isZarr3)
      writeZarr3(df, root, dataset, attrs, extraAttrs)
    else if (attrs.isZarr)
      writeZarr(df, root, dataset, attrs, attrs.zarrSeparator, extraAttrs)
    else writeN5(df, root, dataset, attrs, extraAttrs)

  /** Write a block table as a zarr v3 container: non-sharded profile
    * (r18) — fill-padded C-order chunks through
    * `[bytes <endian>, compressor?, crc32c]`, default "c/"-prefixed
    * chunk keys, one `zarr.json` committed AFTER the data — or the
    * `sharding_indexed` profile (r19) when `attrs.shard` is set:
    * blockSize is the INNER chunk shape, chunk files are shards of
    * `blockSize·chunksPerShard` voxels with the u64-pair index (+
    * crc32c) at the end, and absent inner chunks stamp all-ones index
    * entries (fill). Sharded writes CLUSTER the block table on the
    * shard grid and sort within partitions so each shard's inner
    * chunks reach exactly one task consecutively — the shard then
    * STREAMS to disk (O(chunk) writer memory however large the shard),
    * which is what makes GB-scale shards writable at all.
    */
  def writeZarr3(
      df: DataFrame, root: String, dataset: String, attrs: DatasetAttributes,
      extraAttrs: Map[String, String] = Map.empty): Unit = {
    val clustered = attrs.shard match {
      case Some(sp) =>
        val shardCols = Seq("gx", "gy", "gz").take(attrs.ndim).zipWithIndex
          .map { case (c, i) => expr(s"$c div ${sp.chunksPerShard(i)}") }
        df.repartition(shardCols: _*).sortWithinPartitions(shardCols: _*)
      case None => df
    }
    val base = clustered.write.format("n5")
      .option("dataset", dataset)
      .option("format", "zarr3")
      .option("zarrSeparator", attrs.zarrSeparator)
      .option("zarrLittleEndian", attrs.zarrLittleEndian.toString)
      .option("zarr3ChunkPrefix", attrs.zarr3ChunkPrefix.toString)
      .option("zarr3Crc", attrs.zarr3Crc.toString)
      .option("dimensions", attrs.dimensions.mkString(","))
      .option("blockSize", attrs.blockSize.mkString(","))
      .option("dataType", attrs.dataType.name)
      .option("compression", attrs.compression.codec)
      .option("compressionLevel", attrs.compression.level.toString)
      .option("extraAttrs",
        (attrs.extra ++ extraAttrs).map { case (k, v) => s"$k=$v" }.mkString(";;"))
    attrs.shard.fold(base) { sp =>
      require(sp.indexAtEnd,
        "sharded zarr v3 write streams chunks then the index — " +
          "index_location=start attrs cannot be written")
      base.option("shardChunks", sp.chunksPerShard.mkString(","))
        // the inner chain IS the attrs-level mirror on a fresh write
        .option("zarr3Crc", sp.chunkCrc.toString)
        .option("zarrLittleEndian", sp.innerLittleEndian.toString)
        .option("shardIndexCrc", sp.indexCrc.toString)
        .option("compression", sp.innerCompression.codec)
        .option("compressionLevel", sp.innerCompression.level.toString)
    }
      .mode("append")
      .save(root)
  }

  private def writeN5(
      df: DataFrame, root: String, dataset: String, attrs: DatasetAttributes,
      extraAttrs: Map[String, String]): Unit =
    df.write.format("n5")
      .option("dataset", dataset)
      .option("dimensions", attrs.dimensions.mkString(","))
      .option("blockSize", attrs.blockSize.mkString(","))
      .option("dataType", attrs.dataType.name)
      .option("compression", attrs.compression.codec)
      .option("compressionLevel", attrs.compression.level.toString)
      .option("extraAttrs",
        (attrs.extra ++ extraAttrs).map { case (k, v) => s"$k=$v" }.mkString(";;"))
      .mode("append")
      .save(root)

  /** Write a block table (gx,gy,gz,shape,data) as a zarr v2 container
    * (r14): C-order fill-padded chunks under "."- or "/"-separated keys
    * plus `.zarray` metadata committed AFTER the data — the same
    * atomic-rename writer discipline as the N5 path, so zarr stores get
    * torn-block-free, retry-idempotent writes too. Compressor profile
    * raw/zlib/gzip/blosc (loud otherwise).
    */
  def writeZarr(
      df: DataFrame, root: String, dataset: String, attrs: DatasetAttributes,
      separator: String = ".",
      extraAttrs: Map[String, String] = Map.empty): Unit =
    df.write.format("n5")
      .option("dataset", dataset)
      .option("format", "zarr")
      .option("zarrSeparator", separator)
      .option("dimensions", attrs.dimensions.mkString(","))
      .option("blockSize", attrs.blockSize.mkString(","))
      .option("dataType", attrs.dataType.name)
      .option("compression", attrs.compression.codec)
      .option("compressionLevel", attrs.compression.level.toString)
      .option("extraAttrs",
        (attrs.extra ++ extraAttrs).map { case (k, v) => s"$k=$v" }.mkString(";;"))
      .mode("append")
      .save(root)

  /** Per-element view (x,y,z,v) of a block table. Lazy posexplode +
    * integer index math — only queries that genuinely need per-voxel rows
    * pay for the explosion (SURVEY §1.4). Flat index is x-fastest within
    * the local (trimmed) block shape.
    *
    * The coordinate columns carry axis metadata so the
    * [[graft.plans.N5BoxPruning]] analyzer rule can convert range
    * predicates on x/y/z into gx/gy/gz block-grid predicates that the DSv2
    * scan prunes on — an ad-hoc `elements(...).filter(x between a and b)`
    * then reads only intersecting block FILES, like `readBox`.
    */
  /** COLUMNAR per-element scan (x,y,z,v) straight from the DSv2 source —
    * the same rows (and order within a block) as `elements(read(...))`,
    * but the reader emits ColumnarBatches whose primitive vectors are
    * filled directly from the decoded block payload: no posexplode
    * generator, no per-row boxing, and whole-stage codegen consumes the
    * vectors through the standard ColumnarToRow bridge. x/y/z range
    * predicates push into the scan and prune block FILES (conservative
    * per-axis block-range test) — the source-side equivalent of what the
    * N5BoxPruning rule does for the lazy posexplode view. Prefer this for
    * scans that start from a stored dataset; `elements(blocks)` remains
    * for element views over in-flight block DataFrames.
    */
  def elementsScan(spark: SparkSession, root: String, dataset: String): DataFrame =
    spark.read.format("n5")
      .option("dataset", dataset)
      .option("view", "elements")
      .load(root)

  def elements(blocks: DataFrame): DataFrame = {
    def axisMeta(i: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(graft.plans.N5BoxPruning.AxisKey, i.toLong).build()
    blocks
      .select(col("x0"), col("y0"), col("z0"), col("shape"),
        posexplode(col("data")).as(Seq("i", "v")))
      .select(
        expr("x0 + i % shape[0]").as("x", axisMeta(0)),
        expr("y0 + (i div shape[0]) % shape[1]").as("y", axisMeta(1)),
        expr("z0 + i div (shape[0] * shape[1])").as("z", axisMeta(2)),
        col("v"))
  }

  /** Ranged box scan [start, end) — reference `read_n5_block`
    * (`n5_utils.py:6-18`). Grid predicates prune block FILES via the DSv2
    * filter pushdown before any I/O; element predicates trim block edges.
    *
    * `fillMissing=true` (default) reproduces zarr fill-value semantics on
    * sparse volumes: voxels of the box whose block file is absent come
    * back as zeros, so the result is always a dense box — what
    * `da.from_zarr(...)[slices]` returns. The missing-grid check is a
    * metadata-only scan (no payload decode) over just the box's grid
    * range, and zero rows are generated only for the absent blocks'
    * intersection with the box. `fillMissing=false` returns only stored
    * voxels (the sparse block-table view).
    */
  def readBox(
      spark: SparkSession, root: String, dataset: String,
      start: Array[Long], end: Array[Long],
      fillMissing: Boolean = true): DataFrame = {
    val attrs = N5Meta.datasetAttributes(root, dataset)
    val bs = attrs.blockSize
    val g0 = Array.tabulate(3)(i => (start(i) / bs(i)).toInt)
    val g1 = Array.tabulate(3)(i => ((end(i) - 1) / bs(i)).toInt)
    // columnar element scan; the box predicates push into the source and
    // prune to exactly the g0..g1 grid range the old explicit block-table
    // filter selected
    val inBox = (df: DataFrame) => df
      .filter(col("x") >= start(0) && col("x") < end(0)
        && col("y") >= start(1) && col("y") < end(1)
        && col("z") >= start(2) && col("z") < end(2))
    val stored = inBox(elementsScan(spark, root, dataset))
    if (!fillMissing) return stored
    // Which of the box's grid positions exist on disk? Pure driver-side
    // directory walk bounded to the box's grid range (one listStatus per
    // surviving directory) — no Spark job at plan-construction time.
    val dsPath = new org.apache.hadoop.fs.Path(root, dataset)
    val fs = graft.HadoopConf.fs(dsPath)
    val present = graft.sources.n5.N5GridWalk
      .listChunks(fs, dsPath, attrs, (axis, v) => v >= g0(axis) && v <= g1(axis))
      .map { case (g, _) => (g(0), g(1), g(2)) }.toSet
    // intersection boxes of the absent blocks with [start, end)
    val missingBoxes: Seq[(Long, Long, Long, Long, Long, Long)] = (for {
      gx <- g0(0) to g1(0); gy <- g0(1) to g1(1); gz <- g0(2) to g1(2)
      if !present((gx, gy, gz))
    } yield {
      val lo = Array(math.max(start(0), gx.toLong * bs(0)),
        math.max(start(1), gy.toLong * bs(1)),
        math.max(start(2), gz.toLong * bs(2)))
      val hi = Array(
        math.min(end(0), math.min((gx + 1).toLong * bs(0), attrs.dimensions(0))),
        math.min(end(1), math.min((gy + 1).toLong * bs(1), attrs.dimensions(1))),
        math.min(end(2), math.min((gz + 1).toLong * bs(2), attrs.dimensions(2))))
      (lo(0), lo(1), lo(2), hi(0), hi(1), hi(2))
    }).filter(b => b._4 > b._1 && b._5 > b._2 && b._6 > b._3)
    if (missingBoxes.isEmpty) return stored
    // ONE dataset of small box descriptors; zero rows stream lazily from
    // per-box iterators on the executors — a box over thousands of absent
    // blocks stays a single flat relation, not a union tower.
    val elemT = graft.sources.n5.N5Schema.elementType(attrs.dataType)
    import spark.implicits._
    val par = math.max(1, math.min(missingBoxes.size,
      spark.sparkContext.defaultParallelism))
    val zeros = spark.createDataset(missingBoxes).repartition(par)
      .flatMap { case (l0, l1, l2, h0, h1, h2) =>
        val dx = h0 - l0; val dy = h1 - l1
        val n = dx * dy * (h2 - l2)
        new Iterator[(Long, Long, Long)] {
          private var i = 0L
          override def hasNext: Boolean = i < n
          override def next(): (Long, Long, Long) = {
            val t = (l0 + i % dx, l1 + (i / dx) % dy, l2 + i / (dx * dy))
            i += 1; t
          }
        }
      }
      .toDF("x", "y", "z")
      .withColumn("v", lit(0).cast(elemT))
    stored.union(zeros)
  }

  /** Ranged box write [start, end): upsert an element table (x,y,z,v)
    * into an EXISTING dataset — reference `write_n5_block` semantics
    * (`n5_utils.py:21-33`; note the reference's own version transposes a
    * materialized copy and never persists — that bug is not replicated).
    *
    * Blocks fully covered by the box are rebuilt from the input without
    * reading; partially covered blocks are read executor-side
    * (open-per-task, like `ometif_to_n5.py:174-182`), overlaid, and
    * rewritten — so voxels outside the box are preserved exactly. One
    * shuffle keyed by target block whose volume is the box itself. The
    * writer publishes blocks via atomic temp+rename, so a retried or
    * speculative attempt re-reads either the old or the new COMPLETE
    * bytes and overlays the same patch — the read-modify-write is
    * idempotent, never torn. Out-of-range values for the dataset's dtype
    * fail loudly (safe-cast discipline, `n5_to_tif.py:28`), they never
    * wrap. Precondition: at most one input row per voxel — duplicate
    * (x,y,z) coordinates resolve arbitrarily (shuffle arrival order).
    */
  def writeBox(
      spark: SparkSession, root: String, dataset: String,
      start: Array[Long], end: Array[Long], elems: DataFrame): Unit = {
    val attrs = N5Meta.datasetAttributes(root, dataset)
    require(!attrs.isZarrFamily,
      "writeBox: ranged upsert into zarr datasets is unsupported — write " +
        "whole block tables via N5.writeZarr, or convert to N5 first " +
        "(createDatasetLike + write reproduce the geometry)")
    require(attrs.ndim == 3, "writeBox expects a 3-D dataset")
    require(start.zip(end).forall { case (s, e) => s < e },
      s"empty box [${start.mkString(",")}, ${end.mkString(",")})")
    require(start.forall(_ >= 0) &&
      end.zip(attrs.dimensions).forall { case (e, d) => e <= d },
      s"box exceeds dims ${attrs.dimensions.mkString("x")}")
    val Array(bx, by, bz) = attrs.blockSize
    val isFloat =
      attrs.dataType == Dtype.Float32 || attrs.dataType == Dtype.Float64
    import spark.implicits._
    val inBox = elems.filter(
      col("x") >= start(0) && col("x") < end(0)
        && col("y") >= start(1) && col("y") < end(1)
        && col("z") >= start(2) && col("z") < end(2))
    // one typed pipeline for all dtypes: floats travel as raw Double bits
    val typed: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] =
      if (isFloat)
        inBox.select(col("x"), col("y"), col("z"), col("v").cast("double"))
          .as[(Long, Long, Long, Double)]
          .map { case (x, y, z, v) =>
            (x, y, z, java.lang.Double.doubleToRawLongBits(v))
          }
      else
        inBox.select(col("x"), col("y"), col("z"),
          integralOrRaise(col("v"), s"writeBox (${attrs.dataType.name})").as("v"))
          .as[(Long, Long, Long, Long)]
    // safe-cast discipline: integer dtypes fail loudly on out-of-range
    // input instead of silently wrapping in the codec
    val valueRange = attrs.dataType.integerRange
    val dtypeName = attrs.dataType.name
    val assembled = typed
      .groupByKey { case (x, y, z, _) =>
        ((x / bx).toInt, (y / by).toInt, (z / bz).toInt)
      }
      .mapGroups { (g, it) =>
        val grid = Array(g._1, g._2, g._3)
        val shape = attrs.blockShape(grid)
        val Array(sx, sy, _) = shape
        val vol = shape.product
        val ox = g._1.toLong * bx
        val oy = g._2.toLong * by
        val oz = g._3.toLong * bz
        // materialize the patch first: a group covering the whole block
        // (unique-voxel precondition) needs no read at all
        val idxs = new Array[Int](vol)
        val vals = new Array[Long](vol)
        val covered = new java.util.BitSet(vol)
        var m = 0
        it.foreach { case (x, y, z, v) =>
          valueRange.foreach { case (lo, hi) =>
            if (v < lo || v > hi) throw new IllegalArgumentException(
              s"writeBox: value $v at ($x,$y,$z) outside $dtypeName range [$lo, $hi]")
          }
          if (m >= vol) throw new IllegalArgumentException(
            s"writeBox: more input rows than voxels in block " +
              s"(${grid.mkString(",")}) — duplicate (x,y,z) coordinates")
          idxs(m) = ((x - ox) + (y - oy) * sx + (z - oz) * sx * sy).toInt
          covered.set(idxs(m))
          vals(m) = v
          m += 1
        }
        val base = new Array[Long](vol)
        // "fully covered, skip the read" requires every DISTINCT voxel hit:
        // a row count of vol with duplicates would leave uncovered voxels
        // silently zeroed if we trusted m alone
        if (covered.cardinality() < vol) {
          // partial cover: start from the stored block (zeros when absent)
          val path = new org.apache.hadoop.fs.Path(
            root, s"$dataset/${grid.mkString("/")}")
          val fs = graft.HadoopConf.fs(path)
          if (fs.exists(path)) {
            val raw = graft.sources.n5.N5BlockIO.readAllBytes(fs, path)
            val dec = BlockCodec.decode(raw, attrs.dataType, attrs.compression)
            // same short-block discipline as N5ElementsReader /
            // N5BlockReader: a truncated varlength (mode-1) block must
            // fail loudly here too — a silent prefix+fill overlay would
            // preserve WRONG voxels outside the box
            if (dec.elementCount < vol) throw new IllegalArgumentException(
              s"writeBox: block ${grid.mkString("/")} decodes " +
                s"${dec.elementCount} elements, expected $vol — " +
                "truncated varlength (mode-1) block")
            var i = 0
            val n = base.length
            if (dec.isFloat)
              while (i < n) {
                base(i) = java.lang.Double.doubleToRawLongBits(dec.doubles(i)); i += 1
              }
            else
              while (i < n) { base(i) = dec.longs(i); i += 1 }
          }
        }
        var i = 0
        while (i < m) { base(idxs(i)) = vals(i); i += 1 }
        Regroup.OutBlock(g._1, g._2, g._3, shape, base)
      }
    val elemT = graft.sources.n5.N5Schema.elementType(attrs.dataType)
    write(Regroup.blocksDF(assembled, elemT, isFloat), root, dataset, attrs)
  }

  /** Reassemble an element table (x,y,z,v) into the (gx,gy,gz,shape,data)
    * block layout of `target`, ready for `write`. One shuffle keyed by grid
    * position — the rechunk Exchange of `tif_to_n5.py:22` /
    * `n5_to_tif.py:50`.
    *
    * Scale formulation: a map-side PATCH COMBINE. Each input partition
    * packs its voxels into one (grid → idx[], bits[]) patch row per block
    * it touches, so the shuffle carries ~12 bytes/voxel in a handful of
    * rows per partition instead of one ~40-byte UnsafeRow per voxel, and
    * assembly is a primitive scatter instead of a groupBy-sort over boxed
    * structs. Blocks with any row must be DENSE (every voxel present) —
    * enforced with a coverage bitset; wholly absent blocks stay absent
    * (sparse volumes). Float payloads travel as raw Double bits (exact).
    */
  def blocksFromElements(
      elems: DataFrame, target: DatasetAttributes,
      elemSparkType: DataType): DataFrame = {
    val spark = elems.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val isFloat = elemSparkType == FloatType || elemSparkType == DoubleType
    val Array(bx, by, bz) = target.blockSize
    val dims = target.dimensions
    val typed: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] =
      if (isFloat)
        elems.select(col("x").cast("bigint"), col("y").cast("bigint"),
          col("z").cast("bigint"), col("v").cast("double"))
          .as[(Long, Long, Long, Double)]
          .map { case (x, y, z, v) =>
            (x, y, z, java.lang.Double.doubleToRawLongBits(v))
          }
      else
        elems.select(col("x").cast("bigint"), col("y").cast("bigint"),
          col("z").cast("bigint"),
          integralOrRaise(col("v"),
            s"blocksFromElements (${elemSparkType.catalogString})").as("v"))
          .as[(Long, Long, Long, Long)]
    // partition-local combine: one patch row per (partition, touched block);
    // the block-local shape is computed once per block, not per voxel
    final case class Patch(
        sx: Int, sy: Int,
        is: scala.collection.mutable.ArrayBuilder.ofInt,
        vs: scala.collection.mutable.ArrayBuilder.ofLong)
    val patches = typed.mapPartitions { it =>
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Int, Int), Patch]
      it.foreach { case (x, y, z, v) =>
        require(x >= 0 && x < dims(0) && y >= 0 && y < dims(1)
          && z >= 0 && z < dims(2),
          s"element ($x,$y,$z) outside dims ${dims.mkString("x")}")
        val g = ((x / bx).toInt, (y / by).toInt, (z / bz).toInt)
        val p = acc.getOrElseUpdate(g, Patch(
          math.min(bx.toLong, dims(0) - g._1.toLong * bx).toInt,
          math.min(by.toLong, dims(1) - g._2.toLong * by).toInt,
          new scala.collection.mutable.ArrayBuilder.ofInt,
          new scala.collection.mutable.ArrayBuilder.ofLong))
        p.is += ((x - g._1.toLong * bx) + (y - g._2.toLong * by) * p.sx
          + (z - g._3.toLong * bz) * p.sx * p.sy).toInt
        p.vs += v
      }
      acc.iterator.map { case ((gx, gy, gz), p) =>
        (gx, gy, gz, p.is.result(), p.vs.result())
      }
    }
    val assembled = patches
      .groupByKey(p => (p._1, p._2, p._3))
      .mapGroups { (g, it) =>
        val grid = Array(g._1, g._2, g._3)
        val shape = target.blockShape(grid)
        val vol = shape.product
        val out = new Array[Long](vol)
        val covered = new java.util.BitSet(vol)
        var rows = 0L
        it.foreach { case (_, _, _, is, vs) =>
          var i = 0
          while (i < is.length) {
            out(is(i)) = vs(i); covered.set(is(i)); i += 1
          }
          rows += is.length
        }
        require(covered.cardinality() == vol,
          s"block (${grid.mkString(",")}) has ${covered.cardinality()} of " +
            s"$vol voxels — blocksFromElements needs dense blocks")
        // a clobbered duplicate would otherwise resolve to shuffle arrival
        // order — nondeterministic data with no error
        require(rows == vol,
          s"block (${grid.mkString(",")}) got $rows rows for $vol voxels — " +
            "duplicate (x,y,z) coordinates")
        Regroup.OutBlock(g._1, g._2, g._3, shape, out)
      }
    Regroup.blocksDF(assembled, elemSparkType, isFloat)
  }

  /** DDL-from-template (reference `create_dataset`, `create_n5.py:7-37`):
    * create an empty dataset cloning the template's shape/chunks/dtype/
    * compression, with optional overrides. `overwrite=true` (the
    * reference's default) clears any existing blocks at the target path
    * first — without it, stale blocks from a previous dataset with the
    * same path would remain readable under the new metadata.
    */
  def createDatasetLike(
      templateRoot: String, templateDataset: String,
      outRoot: String, outDataset: String,
      compression: Option[Compression] = None,
      dtype: Option[Dtype] = None,
      overwrite: Boolean = true): DatasetAttributes = {
    val t = N5Meta.datasetAttributes(templateRoot, templateDataset)
    val out = t.copy(
      compression = compression.getOrElse(t.compression),
      dataType = dtype.getOrElse(t.dataType))
    if (overwrite) {
      val p = new org.apache.hadoop.fs.Path(outRoot, outDataset)
      val fs = graft.HadoopConf.fs(p)
      if (fs.exists(p)) fs.delete(p, true)
    }
    N5Meta.ensureRoot(outRoot)
    N5Meta.writeDatasetAttributes(outRoot, outDataset, out)
    out
  }

  /** Rechunk a dataset to a new block size (same dims/dtype), reference
    * `array.rechunk` (`tif_to_n5.py:22`). Delegates to the block-fragment
    * regroup (Regroup.rechunkBlocks): one shuffle of ≤8 fragment rows per
    * output block instead of one row per voxel.
    */
  def rechunk(
      spark: SparkSession, srcRoot: String, srcDataset: String,
      dstRoot: String, dstDataset: String, newBlockSize: Array[Int],
      compression: Compression = Compression("gzip")): DatasetAttributes =
    Regroup.rechunkBlocks(spark, srcRoot, srcDataset, dstRoot, dstDataset,
      newBlockSize, compression)

  /** Element-shuffle rechunk (kept for equivalence testing; the fragment
    * path above is the production formulation).
    */
  def rechunkViaElements(
      spark: SparkSession, srcRoot: String, srcDataset: String,
      dstRoot: String, dstDataset: String, newBlockSize: Array[Int],
      compression: Compression = Compression("gzip")): DatasetAttributes = {
    val src = N5Meta.datasetAttributes(srcRoot, srcDataset)
    val dst = src.copy(blockSize = newBlockSize, compression = compression)
    val elems = elementsScan(spark, srcRoot, srcDataset)
    val blocks = blocksFromElements(elems, dst,
      graft.sources.n5.N5Schema.elementType(dst.dataType))
    write(blocks, dstRoot, dstDataset, dst)
    dst
  }
}
