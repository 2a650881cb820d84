package graft.sources.n5

import java.nio.file.{Files, Path}

import graft.{HadoopConf, SparkSpec}
import graft.n5.{Compression, DatasetAttributes, Dtype, N5, N5Meta}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** A `file://` publish through java.nio must not leave the `.<name>.crc`
  * sibling a Hadoop (ChecksumFileSystem) write put beside the file: a later
  * checksummed open would check the NEW bytes against the OLD checksum and
  * reject them. Each test gives a stored file such a sibling, overwrites it
  * through the engine's writer with different bytes, then reads it back
  * through Hadoop's checksummed open.
  */
class StaleCrcSpec extends SparkSpec {

  private def crcOf(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  /** Rewrite `p` with its own bytes through Hadoop's local FileSystem. */
  private def hadoopRewrite(p: Path): Unit = {
    val bytes = Files.readAllBytes(p)
    val hp = new HPath(p.toUri)
    val out = HadoopConf.fs(hp).create(hp, true)
    try out.write(bytes) finally out.close()
    assert(Files.exists(crcOf(p)), s"Hadoop wrote no checksum beside $p")
  }

  /** Every byte of `p` through Hadoop's checksummed open. */
  private def checkedRead(p: Path): Array[Byte] = {
    val hp = new HPath(p.toUri)
    val in = HadoopConf.fs(hp).open(hp)
    try in.readAllBytes() finally in.close()
  }

  private def plusOne(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("data", transform(col("data"), x => (x + 1).cast("short")))

  test("overwriting a Hadoop-written N5 block drops its stale .crc") {
    val root = Files.createTempDirectory("crcblock").toString + "/c.n5"
    val attrs = DatasetAttributes(Array(8L, 6L, 4L), Array(4, 3, 2),
      Dtype.UInt8, Compression("gzip"))
    val elems = spark.range(8L * 6 * 4).select(
      (col("id") % 8).as("x"), (col("id") / 8 % 6).cast("long").as("y"),
      (col("id") / 48).cast("long").as("z"), (col("id") % 5).cast("short").as("v"))
    N5.write(N5.blocksFromElements(elems, attrs, N5Schema.elementType(Dtype.UInt8)),
      root, "v", attrs)
    val block = java.nio.file.Paths.get(root, "v", "1", "1", "1")
    hadoopRewrite(block)
    val before = Files.readAllBytes(block)
    N5.write(plusOne(N5.read(spark, root, "v")), root, "v", attrs)
    assert(!java.util.Arrays.equals(Files.readAllBytes(block), before),
      "the overwrite must change the block's bytes")
    assert(!Files.exists(crcOf(block)), "stale .crc survived the publish")
    assert(java.util.Arrays.equals(checkedRead(block), Files.readAllBytes(block)))
    val got = N5.elementsScan(spark, root, "v").agg(sum(col("v"))).collect()(0)
    assert(got.getLong(0) == elems.agg(sum(col("v"))).collect()(0).getLong(0) +
      8L * 6 * 4)
  }

  test("overwriting a Hadoop-written zarr v3 shard drops its stale .crc") {
    val golden = "fixtures/zarr3_golden" // relative to the project root
    val attrs = N5Meta.datasetAttributes(golden, "vol")
    val root = Files.createTempDirectory("crcshard").toString
    N5.writeZarr3(N5.read(spark, golden, "vol"), root, "vol", attrs)
    val shards = Files.walk(java.nio.file.Paths.get(root, "vol")).toArray
      .map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.forall(_.isDigit))
    assert(shards.nonEmpty)
    shards.foreach(hadoopRewrite)
    N5.writeZarr3(N5.read(spark, golden, "vol")
      .withColumn("data", transform(col("data"), x => x + 1)), root, "vol", attrs)
    shards.foreach(p => assert(!Files.exists(crcOf(p)), s"stale .crc beside $p"))
    // the sharded reader opens shards through Hadoop (ranged, checksummed)
    def total(r: String) = N5.read(spark, r, "vol")
      .agg(sum(aggregate(col("data"), lit(0L), (a, x) => a + x)),
        sum(size(col("data")))).collect()(0)
    val (g, w) = (total(golden), total(root))
    assert(w.getLong(0) == g.getLong(0) + g.getLong(1))
  }
}
