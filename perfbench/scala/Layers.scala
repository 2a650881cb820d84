package graftbench

import graft.n5.{BlockCodec, Compression, Dtype}
import graft.sources.n5.N5BlocksPartition
import graft.sources.tiff.TiffIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, Inflater}

/** Per-layer metrics read off the span tree and the listener ledger. */
object Layers {
  /** Spark totals of the traced passes, per pass. */
  def spark(rep: Report, t: Tracer, l: Ledger, passes: Seq[Pass], cores: Int): Unit = {
    val n = passes.size.toDouble
    val a = l.total
    val taskS = a.runMs / 1e3
    rep.metric("spark.jobs", a.jobs / n, "count/pass")
    rep.metric("spark.tasks", a.tasks / n, "count/pass")
    rep.metric("spark.task_s", taskS / n, "s/pass")
    rep.metric("spark.cpu_util", taskS / (passes.map(_.wall).sum * cores), "ratio")
    rep.metric("spark.max_task_ms", a.maxTaskMs.toDouble, "ms")
    rep.metric("spark.input_bytes", a.inputBytes / n, "bytes/pass")
    rep.metric("spark.shuffle_write_bytes", a.shuffleWrite / n, "bytes/pass")
    rep.metric("spark.shuffle_read_bytes", a.shuffleRead / n, "bytes/pass")
    rep.metric("spark.spill_bytes", a.spill / n, "bytes/pass")
    rep.metric("spark.gc_s", a.gcMs / 1e3 / n, "s/pass")
    rep.metric("spark.driver_gap_s", t.roots.map(l.driverGap).sum / n, "s/pass")
    rep.metric("spark.failed_tasks", a.failedTasks.toDouble, "count")
    rep.info(s"listener: ${a.jobs} jobs attributed to spans by job group over ${passes.size} " +
      s"traced passes; ${l.unattributedJobs} jobs of untraced passes not counted")
  }

  /** Blocks the planned N5 scans of `df` will read (after pruning). */
  def blocksPlanned(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions)
      .collect { case p: N5BlocksPartition => p.grids.length.toLong }.sum
}

/** Single-thread ceiling probes, each timed for at least `MinS` seconds on
  * the same bytes as the layer rate it sits next to.
  */
object Probes {
  val MinS = 0.3

  /** MB/s of `bytes` per call of `f`, repeated for at least MinS. */
  private def rate(bytes: Long)(f: => Unit): Double = {
    f // warm
    var n = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < MinS) { f; n += 1; el = (System.nanoTime() - t0) / 1e9 }
    bytes.toDouble * n / el / 1e6
  }

  /** Codec and copy probes over stored gzip blocks (N5 block files). */
  def run(rep: Report, blocks: Seq[Array[Byte]]): Unit = {
    val gzip = Compression("gzip")
    val raw = Compression("raw")
    val decoded = blocks.map(BlockCodec.decode(_, Dtype.UInt8, gzip))
    val rawBytes = decoded.map(_.longs.map(_.toByte))
    val total = rawBytes.map(_.length.toLong).sum
    val rawBlocks = decoded.map(d => BlockCodec.encode(d.shape, d.longs, null, Dtype.UInt8, raw))
    // deflate stream offsets: N5 header (4 + 4·ndim) then the 10-byte gzip header
    val deflated = blocks.map(b => java.util.Arrays.copyOfRange(b, 4 + 4 * 3 + 10, b.length))
    val buf = new Array[Byte](rawBytes.map(_.length).max)
    val shorts = new Array[Short](buf.length)
    rep.metric("n5.codec.ratio", total.toDouble / blocks.map(_.length.toLong).sum, "ratio")
    rep.metric("n5.codec.decode_mbps",
      rate(total)(blocks.foreach(BlockCodec.decode(_, Dtype.UInt8, gzip))), "MB/s")
    rep.metric("n5.codec.inflate_mbps", rate(total)(deflated.foreach { d =>
      val inf = new Inflater(true)
      inf.setInput(d)
      while (!inf.finished() && inf.inflate(buf) > 0) ()
      inf.end()
    }), "MB/s")
    rep.metric("n5.codec.encode_mbps", rate(total)(decoded.foreach { d =>
      BlockCodec.encode(d.shape, d.longs, null, Dtype.UInt8, gzip)
    }), "MB/s")
    rep.metric("n5.codec.deflate_mbps", rate(total)(rawBytes.foreach { r =>
      val dfl = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      dfl.setInput(r)
      dfl.finish()
      while (!dfl.finished()) dfl.deflate(buf)
      dfl.end()
    }), "MB/s")
    rep.metric("n5.codec.raw_decode_mbps",
      rate(total)(rawBlocks.foreach(BlockCodec.decode(_, Dtype.UInt8, raw))), "MB/s")
    rep.metric("host.copy_mbps", rate(total)(rawBytes.foreach { r =>
      var i = 0
      while (i < r.length) { shorts(i) = (r(i) & 0xff).toShort; i += 1 }
    }), "MB/s")
  }

  /** TiffIO encode/decode of one z-slice of the seeded volume. */
  def tiff(rep: Report, vol: Volume): Unit = {
    val (w, h) = (vol.dims(0), vol.dims(1))
    val px = vol.box(0, 0, 0, w, h, 1).map(_ & 0xff)
    val enc = TiffIO.encode(w, h, px, 8)
    rep.metric("sources.tiff.encode_mbps", rate(w.toLong * h)(TiffIO.encode(w, h, px, 8)), "MB/s")
    rep.metric("sources.tiff.decode_mbps", rate(w.toLong * h)(TiffIO.decode(enc)), "MB/s")
  }

  /** Bare Files.write of the same bytes `dir` holds, one file each. */
  def diskWrite(rep: Report, dir: Path, scratch: Path): Unit = {
    val files = Store.files(dir).map(Files.readAllBytes)
    Files.createDirectories(scratch)
    rep.metric("host.disk_write_mbps", rate(files.map(_.length.toLong).sum) {
      files.zipWithIndex.foreach { case (b, i) => Files.write(scratch.resolve(i.toString), b) }
    }, "MB/s")
    Store.deleteTree(scratch)
  }
}
