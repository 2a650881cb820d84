package graft.sources.n5

import java.nio.file.Files

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import org.apache.spark.sql.functions._

/** The columnar element scan must produce exactly the rows of the lazy
  * posexplode view for EVERY dtype — one branch per primitive fill in
  * N5ElementsReader, so each needs a pin (uint8/float32 are also covered
  * end-to-end by RoundTripSpec/RegroupSpec; this sweep adds the rest).
  */
class ElementScanSpec extends SparkSpec {

  private val dims = Array(12L, 10L, 6L)

  private def volume(
      dtype: Dtype, dims: Array[Long] = dims,
      blockSize: Array[Int] = Array(5, 4, 3)): (String, String) = {
    val root = Files.createTempDirectory("elemscan").toString + "/t.n5"
    val ds = "vol/s0"
    val attrs = DatasetAttributes(dims, blockSize, dtype, Compression("gzip"))
    val elemT = N5Schema.elementType(dtype)
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 3 + col("y") * 5 + col("z") * 7) % 97).cast(elemT).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs, elemT), root, ds, attrs)
    (root, ds)
  }

  for (dtype <- Seq(Dtype.UInt8, Dtype.Int8, Dtype.UInt16, Dtype.Int16,
      Dtype.UInt32, Dtype.Int32, Dtype.Int64, Dtype.Float32, Dtype.Float64)) {
    test(s"columnar element scan equals the lazy view for ${dtype.name}") {
      val (root, ds) = volume(dtype)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.orderBy(col("z"), col("y"), col("x"))
          .collect().map(_.mkString("|")).toSeq
      val columnar = canon(N5.elementsScan(spark, root, ds))
      val lazyView = canon(N5.elements(N5.read(spark, root, ds)))
      assert(columnar.size == dims.product)
      assert(columnar == lazyView, s"${dtype.name} columnar/lazy divergence")
    }
  }

  // the reader trims each block to the box the pushed x/y/z filters allow;
  // every case must return exactly the lazy view's rows under the filter
  // (3x3x2 grid of 5x4x3 blocks over 12x10x6, edge blocks trimmed)
  private val trimCases: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "no filter: every voxel of every block" -> lit(true),
    "box strictly inside block (1,1,1)" ->
      (col("x").between(6, 8) && col("y").between(5, 6) && col("z") === 4),
    "box straddling block edges on all axes" ->
      (col("x") > 3 && col("x") <= 10 && col("y") >= 2 && col("y") < 9 &&
        col("z").between(1, 4)),
    "EqualTo and In" -> (col("x") === 7 && col("y").isin(1, 6, 9) && col("z") === 4),
    "In spanning blocks with a gap" -> col("x").isin(0, 11),
    "empty: outside the extent" -> (col("x") > 100),
    // the two below keep a block file (its untrimmed range can match) whose
    // trimmed sub-box is empty: the reader must skip it, not misread it
    "empty: no integer between the bounds" -> (col("x") > 6 && col("x") < 7),
    "empty: past the trimmed edge block" -> (col("x") >= 13),
    "empty: In outside the extent" -> col("z").isin(-5, 40))

  for ((name, f) <- trimCases) {
    test(s"trimmed element scan equals the filtered lazy view: $name") {
      val (root, ds) = volume(Dtype.UInt16)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.filter(f).orderBy(col("z"), col("y"), col("x"))
          .collect().map(_.mkString("|")).toSeq
      val lazyView = canon(N5.elements(N5.read(spark, root, ds)))
      assert(canon(N5.elementsScan(spark, root, ds)) == lazyView)
      if (name.startsWith("no filter")) assert(lazyView.size == dims.product)
      if (name.startsWith("empty")) assert(lazyView.isEmpty)
    }
  }

  test("a 64^3 box straddling four blocks emits only its 262144 voxels") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 96x96x64 in 64^3 blocks: [32,96) x [32,96) x [0,64) touches all four
    // blocks, whose untrimmed voxels number 96*96*64 = 589824
    val (root, ds) = volume(Dtype.UInt8, Array(96L, 96L, 64L), Array(64, 64, 64))
    val df = N5.readBox(spark, root, ds, Array(32L, 32L, 0L), Array(96L, 96L, 64L))
    assert(df.collect().length == 262144)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.inputPartitions.map {
      case p: N5BlocksPartition => p.grids.length
    }.sum == 4)
    assert(scan.metrics("numOutputRows").value == 262144L)
  }

  /** Rewrite block file `g` of a volume as a varlength (mode-1) block
    * carrying `count` of its decoded elements.
    */
  private def rewriteAsMode1(
      root: String, ds: String, g: String, count: Int): Unit = {
    import graft.n5.{BlockCodec, N5Meta}
    val p = java.nio.file.Paths.get(root, ds, g)
    val attrs = N5Meta.datasetAttributes(root, ds)
    val dec = BlockCodec.decode(java.nio.file.Files.readAllBytes(p),
      attrs.dataType, attrs.compression)
    // re-encode `count` elements through the normal (mode-0) encoder,
    // then splice the mode-1 header fields into its place
    val shape = dec.shape
    val payload = BlockCodec.encode(Array(count, 1, 1),
      dec.longs.take(count), null, attrs.dataType, attrs.compression)
      .drop(4 + 4 * 3) // strip the mode-0 header of the payload carrier
    val bb = java.nio.ByteBuffer
      .allocate(4 + 4 * shape.length + 4 + payload.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putShort(1.toShort).putShort(shape.length.toShort)
    shape.foreach(bb.putInt)
    bb.putInt(count)
    bb.put(payload)
    java.nio.file.Files.write(p, bb.array())
    // the volume was written through Hadoop's ChecksumFileSystem; drop the
    // stale .crc sidecar so the out-of-band rewrite is readable
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve(s".${p.getFileName}.crc"))
  }

  test("a full-count varlength (mode-1) block scans like a default block") {
    val (root, ds) = volume(Dtype.UInt16)
    val before = N5.elementsScan(spark, root, ds)
      .agg(sum("v"), count("*")).collect()(0)
    val attrs = graft.n5.N5Meta.datasetAttributes(root, ds)
    rewriteAsMode1(root, ds, "0/0/0",
      attrs.blockShape(Array(0, 0, 0)).product)
    val after = N5.elementsScan(spark, root, ds)
      .agg(sum("v"), count("*")).collect()(0)
    assert(after == before, "mode-1 rewrite changed the scanned elements")
  }

  test("a mode-1 volume rechunks to a voxel-identical volume whose blocks " +
      "are dense mode-0 (the writer's declared varlength normalization)") {
    import graft.n5.{Compression, DatasetAttributes, N5Meta}
    val (root, ds) = volume(Dtype.UInt16)
    val attrs = N5Meta.datasetAttributes(root, ds)
    // two blocks become varlength on disk (full element count — valid N5)
    rewriteAsMode1(root, ds, "0/0/0", attrs.blockShape(Array(0, 0, 0)).product)
    rewriteAsMode1(root, ds, "1/1/1", attrs.blockShape(Array(1, 1, 1)).product)
    // rechunk cycle: columnar element read → regroup to a new block size
    // → write. The writer always emits dense mode-0 (always-valid N5) —
    // varlength is an INPUT encoding, not a property the rechunk promises
    // to preserve; this pin is the documented contract of that choice.
    val out = Files.createTempDirectory("mode1rechunk").toString + "/o.n5"
    val tgt = DatasetAttributes(dims, Array(6, 5, 2), Dtype.UInt16,
      Compression("gzip"))
    N5.write(
      N5.blocksFromElements(N5.elementsScan(spark, root, ds), tgt,
        N5Schema.elementType(Dtype.UInt16)),
      out, ds, tgt)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(col("z"), col("y"), col("x"))
        .collect().map(_.mkString("|")).toSeq
    assert(canon(N5.elementsScan(spark, out, ds))
      == canon(N5.elementsScan(spark, root, ds)),
      "mode-1 → rechunk → read cycle changed voxels")
    // every output block is mode-0: first two big-endian bytes are zero
    val blockFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(out, ds))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p)
        && p.getFileName.toString.matches("\\d+"))
    assert(blockFiles.nonEmpty)
    blockFiles.foreach { p =>
      val hdr = java.nio.file.Files.readAllBytes(p).take(2)
      assert(hdr.forall(_ == 0), s"$p is not a mode-0 block")
    }
  }

  test("blockMode=varlength writes mode-1 blocks: a mode-1 label volume " +
      "round-trips mode-byte-compatibly") {
    import graft.n5.N5Meta
    val (root, ds) = volume(Dtype.UInt16)
    val attrs = N5Meta.datasetAttributes(root, ds)
    // the r9 policy made the writer ALWAYS emit dense mode-0 (documented
    // normalization); the r12 option restores byte-compatible round
    // trips for volumes that arrived mode-1
    rewriteAsMode1(root, ds, "0/0/0", attrs.blockShape(Array(0, 0, 0)).product)
    val out = Files.createTempDirectory("mode1write").toString + "/o.n5"
    N5.read(spark, root, ds).write.format("n5")
      .option("dataset", ds)
      .option("dimensions", attrs.dimensions.mkString(","))
      .option("blockSize", attrs.blockSize.mkString(","))
      .option("dataType", attrs.dataType.name)
      .option("compression", attrs.compression.codec)
      .option("blockMode", "varlength")
      .mode("append").save(out)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(col("z"), col("y"), col("x"))
        .collect().map(_.mkString("|")).toSeq
    assert(canon(N5.elementsScan(spark, out, ds))
      == canon(N5.elementsScan(spark, root, ds)),
      "varlength write changed voxels")
    // every output block is mode-1 and declares its FULL element count
    // (dense-complete varlength — always-valid N5)
    val blockFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(out, ds))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p)
        && p.getFileName.toString.matches("\\d+"))
    assert(blockFiles.nonEmpty)
    blockFiles.foreach { p =>
      val hdr = java.nio.ByteBuffer
        .wrap(java.nio.file.Files.readAllBytes(p).take(20))
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      assert(hdr.getShort() == 1, s"$p is not a mode-1 block")
      val ndim = hdr.getShort()
      val shape = Array.fill(ndim)(hdr.getInt())
      assert(hdr.getInt() == shape.product,
        s"$p mode-1 count must equal its dense element count")
    }
    // and the decoded payloads agree with the mode-0 write of the same data
    val back = N5.read(spark, out, ds)
      .agg(sum(aggregate(col("data").cast("array<bigint>"),
        lit(0L), (a, x) => a + x))).collect()(0).getLong(0)
    val orig = N5.read(spark, root, ds)
      .agg(sum(aggregate(col("data").cast("array<bigint>"),
        lit(0L), (a, x) => a + x))).collect()(0).getLong(0)
    assert(back == orig)
    // unknown blockMode values fail loudly at plan build
    val ex = intercept[Exception] {
      N5.read(spark, root, ds).write.format("n5")
        .option("dataset", ds)
        .option("dimensions", attrs.dimensions.mkString(","))
        .option("blockMode", "bogus")
        .mode("append").save(out)
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("unknown blockMode")), s"got: $chain")
  }

  test("a short varlength block fails the BLOCKS view loudly too") {
    val (root, ds) = volume(Dtype.UInt16)
    rewriteAsMode1(root, ds, "0/0/0", 7)
    val ex = intercept[Exception] {
      N5.read(spark, root, ds).select(col("data")).collect()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("varlength-short")),
      s"expected the fail-loud short-block diagnostic, got: $chain")
  }

  test("a short varlength block fails the element scan loudly") {
    val (root, ds) = volume(Dtype.UInt16)
    rewriteAsMode1(root, ds, "0/0/0", 7) // 7 of the block's 60 elements
    val ex = intercept[Exception] {
      N5.elementsScan(spark, root, ds).agg(sum("v")).collect()
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("varlength-short")),
      s"expected the fail-loud short-block diagnostic, got: $chain")
  }
}
