package graft.n5

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** DSv2 connector tests on the golden fixture: scan correctness, partition
  * pruning via pushed grid filters, column pruning, write + read-back, and
  * rechunk (the README round-trip core).
  */
class N5SourceSpec extends SparkSpec {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"

  test("block scan yields 4 rows with golden shapes and sums") {
    val df = N5.read(spark, fixtureRoot, fixtureDs)
    val rows = df
      .select(col("gx"), col("gy"), col("gz"), col("shape"),
        aggregate(col("data"), lit(0L), (a, x) => a + x).as("s"),
        size(col("data")).as("n"))
      .orderBy(col("gx"), col("gy"), col("gz"))
      .collect()
    assert(rows.length == 4)
    val bySum = rows.map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(4)).toMap
    assert(bySum((0, 0, 0)) == 18077459L)
    assert(bySum((0, 1, 0)) == 13598034L)
    assert(bySum((1, 0, 0)) == 5266225L)
    assert(bySum((1, 1, 0)) == 3843199L)
  }

  test("element view stats match the independently decoded volume") {
    val e = N5.elements(N5.read(spark, fixtureRoot, fixtureDs))
    val r = e.agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")),
      max(col("x")), max(col("y")), max(col("z"))).collect()(0)
    assert(r.getLong(0) == 1134972L)
    assert(r.getLong(1) == 40784917L)
    assert(r.getShort(2) == 0)
    assert(r.getShort(3) == 255)
    assert(r.getLong(4) == 185L && r.getLong(5) == 225L && r.getLong(6) == 26L)
  }

  test("grid filter pushdown prunes block files before I/O") {
    val df = N5.read(spark, fixtureRoot, fixtureDs).filter(col("gx") === 0)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    val plannedBlocks = scan.inputPartitions.map {
      case p: graft.sources.n5.N5BlocksPartition => p.grids.length
    }.sum
    assert(plannedBlocks == 2, "gx=0 must prune to 2 of 4 blocks")
    assert(df.count() == 2)
  }

  private def partitions(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get.inputPartitions

  test("blocks group into size-targeted partitions (task-count control)") {
    // the 4 fixture blocks (2 MiB decoded each) are far below the 128 MiB
    // target; the per-core cap still gives every core a block
    val cores = spark.sparkContext.defaultParallelism
    assert(partitions(N5.read(spark, fixtureRoot, fixtureDs)).length ==
      math.min(4, cores))
    // per-block tasks restored via maxBlocksPerPartition=1
    val perBlock = spark.read.format("n5")
      .option("dataset", fixtureDs)
      .option("maxBlocksPerPartition", "1")
      .load(fixtureRoot)
    assert(partitions(perBlock).length == 4)
    assert(perBlock.count() == 4)
  }

  test("targetPartitionBytes still caps grouping when blocks outnumber cores") {
    // 128 uint8 blocks of 5x5x4 = 100 B over 40x40x8
    val root = Files.createTempDirectory("n5parts").toString + "/p.n5"
    val attrs = DatasetAttributes(Array(40L, 40L, 8L), Array(5, 5, 4),
      Dtype.UInt8, Compression("gzip"))
    val elems = spark.range(40L * 40 * 8).select(
      (col("id") % 40).as("x"), (col("id") / 40 % 40).cast("long").as("y"),
      (col("id") / 1600).cast("long").as("z"), (col("id") % 7).cast("short").as("v"))
    N5.write(N5.blocksFromElements(elems, attrs,
      graft.sources.n5.N5Schema.elementType(Dtype.UInt8)), root, "v", attrs)
    def scan(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("n5").option("dataset", "v"))(
        (r, kv) => r.option(kv._1, kv._2)).load(root)
    val cores = spark.sparkContext.defaultParallelism
    val perCore = (128 + cores - 1) / cores
    // default target: ⌈128 / cores⌉ blocks per partition
    assert(partitions(scan()).length == (128 + perCore - 1) / perCore)
    // a 1000 B target holds 10 blocks, below the per-core cap
    assert(partitions(scan("targetPartitionBytes" -> "1000")).length == 13)
    assert(partitions(scan("maxBlocksPerPartition" -> "1")).length == 128)
    assert(scan("targetPartitionBytes" -> "1000").count() == 128)
  }

  test("readBox returns exactly the requested box (ref read_n5_block)") {
    // box entirely inside block (0,0,0) plus spilling into (1,0,0)
    val e = N5.readBox(spark, fixtureRoot, fixtureDs,
      Array(120L, 10L, 5L), Array(140L, 20L, 8L))
    val r = e.agg(count(lit(1)), min(col("x")), max(col("x")),
      min(col("y")), max(col("y")), min(col("z")), max(col("z"))).collect()(0)
    assert(r.getLong(0) == 20L * 10 * 3)
    assert(r.getLong(1) == 120L && r.getLong(2) == 139L)
    assert(r.getLong(3) == 10L && r.getLong(4) == 19L)
    assert(r.getLong(5) == 5L && r.getLong(6) == 7L)
  }

  test("write + read-back round trip preserves every voxel (rechunk 64^3)") {
    val tmp = Files.createTempDirectory("n5rt").toString
    val dst = N5.rechunk(spark, fixtureRoot, fixtureDs, tmp, "vol/s0",
      Array(64, 64, 64))
    assert(dst.gridDims.toSeq == Seq(3, 4, 1))
    val attrs = N5Meta.datasetAttributes(tmp, "vol/s0")
    assert(attrs.blockSize.toSeq == Seq(64, 64, 64))
    assert(attrs.dataType == Dtype.UInt8)
    val e = N5.elements(N5.read(spark, tmp, "vol/s0"))
    val r = e.agg(count(lit(1)), sum(col("v"))).collect()(0)
    assert(r.getLong(0) == 1134972L)
    assert(r.getLong(1) == 40784917L)
    // per-voxel equality, not just checksum: anti-join original vs round trip
    val orig = N5.elements(N5.read(spark, fixtureRoot, fixtureDs))
    val diff = orig.join(e, Seq("x", "y", "z"))
      .filter(orig("v") =!= e("v")).count()
    assert(diff == 0L)
  }
}
