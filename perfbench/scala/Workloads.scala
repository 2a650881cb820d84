package graftbench

import graft.SparkEntry
import graft.n5.{BlockCodec, Dtype, Multiscale, N5}
import graft.operators.VolumeCC
import graft.sources.tiff.TiffVolume
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.mutable

/** Shared op timing: an op is one call into graft, timed from outside and
  * wrapped in a span of the same name. A thrown op counts as failed.
  */
abstract class Ops(checks: Checks, tracer: Tracer) {
  private var opId = 0L
  private var inRequest = false
  /** (op name, latency) of the ops of the current pass. */
  protected val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  /** Runs `f` as one op; returns its result (None if it threw) and adds
    * its latency to the pass's op time. Inside a [[request]] the op shares
    * the request's op id and its span nests under the request's span.
    */
  protected def op[A](name: String)(f: => A): Option[A] = {
    if (!inRequest) opId += 1
    val t0 = System.nanoTime()
    val r = checks.attempt(name)(tracer.span(name, opId)(f))
    val dt = (System.nanoTime() - t0) / 1e9
    latencies += ((name, dt))
    System.err.println(f"[perfbench] op $opId $name $dt%.3f s")
    r
  }
  /** A client request made of several ops, under one op id and span. */
  protected def request[A](name: String)(f: => A): A = {
    opId += 1
    inRequest = true
    try tracer.span(name, opId)(f) finally inRequest = false
  }
  /** Ends a pass; each op is one client request unless `requests` says. */
  protected def finish(requests: Seq[(String, Double)] => Seq[Double] = _.map(_._2)): Pass = {
    val ops = latencies.toSeq
    latencies.clear()
    Pass(ops, requests(ops))
  }
  protected def spanMedian(t: Tracer, name: String): Double =
    Stats.median(t.spans.filter(_.name == name).map(_.dur).toSeq)
}

/** README round trip: N5 → TIFF series → N5 (64³ gzip) → 3-level mean pyramid. */
final class Roundtrip(spark: SparkSession, cfg: Config, checks: Checks, tracer: Tracer,
    rep: Report) extends Ops(checks, tracer) with Workload {
  val passName = "export+ingest+pyramid"
  val opName = "pipeline"
  private val vol = Volume(cfg.seed, cfg.dims)
  private val src = cfg.work.resolve("src.n5").toString
  private val tiffDir = cfg.work.resolve("tiff")
  private val dst = cfg.work.resolve("dst.n5")
  private val Out = 64
  private var source: Store.Source = _
  /** Expected CRC of each 64³ output block, and (dims, sum) per level. */
  private var expectedBlocks: Map[Seq[Int], Long] = Map.empty
  private var expectedLevels: Seq[(Seq[Int], Long)] = Nil

  def generate(n: Int): Unit = {
    Store.deleteTree(cfg.work.resolve("src.n5"))
    source = Store.writeSource(spark, vol, src, "vol/s0")
    if (n == 1) {
      val all = vol.all()
      val d = cfg.dims
      expectedBlocks = (for {
        gx <- 0 until (d(0) + Out - 1) / Out; gy <- 0 until (d(1) + Out - 1) / Out
        gz <- 0 until (d(2) + Out - 1) / Out
      } yield {
        val sx = math.min(Out, d(0) - gx * Out); val sy = math.min(Out, d(1) - gy * Out)
        val sz = math.min(Out, d(2) - gz * Out)
        Seq(gx, gy, gz) -> Volume.crc(vol.box(gx * Out, gy * Out, gz * Out, sx, sy, sz))
      }).toMap
      var cur = (all, d)
      expectedLevels = (1 to 3).map { _ =>
        cur = Volume.downsample(cur._1, cur._2)
        (cur._2.toSeq, Volume.sum(cur._1))
      }
      rep.info(f"source: dims ${d.mkString("x")}, sum ${source.sum}, crc ${Volume.crc(all)}, " +
        f"n5.codec.ratio ${d.map(_.toLong).product.toDouble / source.stored}%.4f")
    }
  }

  def warmUp(): Unit = { runPipeline(); finish() }

  private def clean(): Unit = { Store.deleteTree(tiffDir); Store.deleteTree(dst) }

  private def runPipeline(): Option[(Int, Int)] = request("roundtrip.pipeline") {
    clean()
    val slices = op("sources.tiff.export") {
      TiffVolume.exportSlices(spark, src, "vol/s0", tiffDir.toString)
    }
    val ingested = op("sources.tiff.ingest") {
      TiffVolume.ingestSlices(spark, tiffDir.toString, dst.toString, "vol/s0",
        Array(Out, Out, Out), Dtype.UInt8, Store.Gzip)
    }
    val levels = op("n5.multiscale.pyramid") {
      Multiscale.buildPyramid(spark, dst.toString, "vol", Array(2, 2, 2),
        maxLevels = 3, thumbnailSize = 1L).size
    }
    for (s <- slices; _ <- ingested; l <- levels) yield (s, l)
  }

  def pass(n: Int): Pass = {
    val r = runPipeline()
    val p = finish(ops => Seq(ops.map(_._2).sum))
    verify(r)
    p
  }

  /** Compares one pipeline's outputs with the generator (outside the
    * timed region), one verdict per op: the slice count of the export; the
    * s0 sum and per-block CRCs of the ingest; each pyramid level's dims and
    * sum against the benchmark's own 2×2×2 floor-mean.
    */
  private def verify(r: Option[(Int, Int)]): Unit = r.foreach { case (slices, levels) =>
    if (cfg.corrupt == "voxel") corruptOneVoxel()
    checks.expect("sources.tiff.export", slices == cfg.dims(2),
      s"exported $slices slices, want ${cfg.dims(2)}")
    val (_, blocks) = Store.readDataset(dst.toString, "vol/s0")
    val got = blocks.map { case (g, _, b) => g.toSeq -> Volume.crc(b) }.toMap
    val s0 = blocks.map(b => Volume.sum(b._3)).sum
    checks.expect("sources.tiff.ingest", s0 == source.sum && got == expectedBlocks,
      s"s0 sum $s0 (want ${source.sum}), " +
        s"${expectedBlocks.count { case (k, v) => !got.get(k).contains(v) }} of " +
        s"${expectedBlocks.size} s0 blocks differ")
    val wrongLevels = expectedLevels.zipWithIndex.flatMap { case ((dims, sum), i) =>
      val (d, bs) = Store.readDataset(dst.toString, s"vol/s${i + 1}")
      val s = bs.map(b => Volume.sum(b._3)).sum
      if (d.toSeq == dims && s == sum) None
      else Some(s"s${i + 1} dims ${d.mkString("x")} sum $s, want ${dims.mkString("x")} sum $sum")
    }
    checks.expect("n5.multiscale.pyramid", levels == 3 && wrongLevels.isEmpty,
      s"$levels levels; ${wrongLevels.mkString("; ")}")
  }

  /** Self-check hook: flips one voxel of one stored s0 block. */
  private def corruptOneVoxel(): Unit = {
    val p = Store.blockFiles(dst.toString, "vol/s0").head._2
    val b = BlockCodec.decode(Files.readAllBytes(p), Dtype.UInt8, Store.Gzip)
    b.longs(0) = (b.longs(0) + 1) % 256
    Files.write(p, BlockCodec.encode(b.shape, b.longs, null, Dtype.UInt8, Store.Gzip))
  }

  def check(): Unit = ()

  def layers(t: Tracer): Unit = {
    rep.metric("sources.tiff.export_s", spanMedian(t, "sources.tiff.export"), "s")
    rep.metric("sources.tiff.ingest_s", spanMedian(t, "sources.tiff.ingest"), "s")
    rep.metric("n5.multiscale.pyramid_s", spanMedian(t, "n5.multiscale.pyramid"), "s")
    // the last traced pass's outputs are still in place
    val (n5b, n5f) = Store.walk(dst)
    val (tb, _) = Store.walk(tiffDir)
    rep.metric("n5.bytes_written", n5b.toDouble, "bytes")
    rep.metric("n5.files_written", n5f.toDouble, "count")
    rep.metric("sources.tiff.bytes_written", tb.toDouble, "bytes")
    Probes.diskWrite(rep, dst, cfg.work.resolve("probe-disk"))
    Probes.tiff(rep, vol)
  }

  def probeBlocks(): Seq[Array[Byte]] =
    Store.blockFiles(src, "vol/s0").map(p => Files.readAllBytes(p._2))
}

/** Read-only volume queries: full aggregate, histogram, MIP, connected
  * components, and a stream of 64³ ROI reads that straddle block edges.
  */
final class Scan(spark: SparkSession, cfg: Config, checks: Checks, tracer: Tracer,
    rep: Report) extends Ops(checks, tracer) with Workload {
  val passName = s"agg+histogram+mip+cc+${cfg.rois} ROI reads"
  val opName = "ROI read"
  private val vol = Volume(cfg.seed, cfg.dims)
  private val root = cfg.work.resolve("src.n5").toString
  private val ds = "vol/s0"
  private val Roi = 64
  private var source: Store.Source = _
  private val rng = new scala.util.Random(cfg.seed)
  private var blocksRead = 0L
  private var blocksIntersecting = 0L
  /** Output checks, deferred past the timed loop. */
  private val pending = mutable.ArrayBuffer.empty[() => Unit]
  private lazy val voxels = cfg.dims.map(_.toLong).product
  /** Voxels ≥ 128, all sphere voxels. */
  private lazy val above = source.hist.drop(128).sum
  /** Sum of the max-over-z projection. */
  private lazy val mipSum = {
    val all = vol.all()
    val plane = cfg.dims(0) * cfg.dims(1)
    val m = new Array[Int](plane)
    var i = 0
    while (i < all.length) { m(i % plane) = math.max(m(i % plane), all(i) & 0xff); i += 1 }
    m.map(_.toLong).sum
  }

  def generate(n: Int): Unit = {
    Store.deleteTree(cfg.work.resolve("src.n5"))
    source = Store.writeSource(spark, vol, root, ds)
    if (n == 1) rep.info(f"source: dims ${cfg.dims.mkString("x")}, sum ${source.sum}, " +
      f"components ${vol.components}, n5.codec.ratio " +
      f"${cfg.dims.map(_.toLong).product.toDouble / source.stored}%.4f")
  }

  def warmUp(): Unit = { pass(-1); pending.clear() }

  /** A seeded ROI corner. The box straddles a block edge on every axis
    * that has an inner edge, so every read touches the same number of
    * blocks and the ROI latencies of different seeds are comparable.
    */
  private def roiStart(): Array[Int] = Array.tabulate(3) { i =>
    val d = cfg.dims(i)
    val edges = (Store.Block until d by Store.Block).filter(e => e - Roi >= 0 && e + Roi <= d)
    if (edges.nonEmpty) edges(rng.nextInt(edges.size)) - 1 - rng.nextInt(Roi - 1)
    else rng.nextInt(d - Roi + 1)
  }

  def pass(n: Int): Pass = {
    val els = () => N5.elementsScan(spark, root, ds)
    op("sources.n5.agg") {
      val r = els().agg(count(lit(1)), sum(col("v").cast("long"))).collect()(0)
      val (n, v) = (r.getLong(0), r.getLong(1))
      pending += (() => checks.expect("agg", n == voxels && v == source.sum,
        s"($n, $v), want ($voxels, ${source.sum})"))
    }
    op("sources.n5.histogram") {
      val h = new Array[Long](256)
      els().groupBy(col("v")).count().collect().foreach(r => h(r.getAs[Number](0).intValue) = r.getLong(1))
      pending += (() => checks.expect("histogram", h.sameElements(source.hist), "value histogram differs"))
    }
    op("queries.mip") {
      val r = els().groupBy(col("x"), col("y")).agg(max(col("v").cast("long")).as("m"))
        .agg(count(lit(1)), sum(col("m"))).collect()(0)
      val (n, v) = (r.getLong(0), r.getLong(1))
      val plane = cfg.dims(0).toLong * cfg.dims(1)
      pending += (() => checks.expect("mip", n == plane && v == mipSum,
        s"($n, $v), want ($plane, $mipSum)"))
    }
    op("operators.cc") {
      val r = VolumeCC.components(N5.read(spark, root, ds), cfg.dims(0), cfg.dims(1), 128L)
        .agg(count(lit(1)), sum(col("n_voxels"))).collect()(0)
      val (n, v) = (r.getLong(0), r.getLong(1))
      pending += (() => checks.expect("cc", n == vol.components && v == above,
        s"$n components of $v voxels, want ${vol.components} of $above"))
    }
    (0 until cfg.rois).foreach { _ =>
      val s = roiStart()
      val df = N5.readBox(spark, root, ds, s.map(_.toLong), s.map(v => (v + Roi).toLong))
        .agg(sum(col("v").cast("long")), count(lit(1)))
      op("plans.box_read") {
        val r = df.collect()(0)
        val (v, n) = (r.getLong(0), r.getLong(1))
        pending += { () =>
          val want = Volume.sum(vol.box(s(0), s(1), s(2), Roi, Roi, Roi))
          checks.expect("ROI read", v == want && n == Roi * Roi * Roi,
            s"box at ${s.mkString(",")}: sum $v of $n voxels, want $want")
        }
      }
      if (tracer.enabled) {
        blocksRead += Layers.blocksPlanned(df)
        blocksIntersecting += (0 until 3).map(i => (s(i) + Roi - 1) / Store.Block - s(i) / Store.Block + 1).product
      }
    }
    finish(_.collect { case ("plans.box_read", t) => t })
  }

  def check(): Unit = pending.foreach(_())

  def layers(t: Tracer): Unit = {
    val agg = spanMedian(t, "sources.n5.agg")
    rep.metric("sources.n5.agg_s", agg, "s")
    rep.metric("sources.n5.histogram_s", spanMedian(t, "sources.n5.histogram"), "s")
    rep.metric("sources.n5.elements_per_s", cfg.dims.map(_.toDouble).product / agg, "1/s")
    rep.metric("queries.mip_s", spanMedian(t, "queries.mip"), "s")
    rep.metric("operators.cc_s", spanMedian(t, "operators.cc"), "s")
    val reads = t.spans.count(_.name == "plans.box_read")
    rep.metric("plans.box_blocks_read", blocksRead.toDouble / reads, "blocks/read")
    rep.metric("plans.box_read_ratio", blocksIntersecting.toDouble / blocksRead, "ratio")
  }

  def probeBlocks(): Seq[Array[Byte]] =
    Store.blockFiles(root, ds).map(p => Files.readAllBytes(p._2))
}

/** Query mix through the noop sink, in a seed-permuted order per pass;
  * the warm-up pass dumps the results the DuckDB oracle checks.
  */
final class SqlMix(spark: SparkSession, cfg: Config, checks: Checks, tracer: Tracer,
    rep: Report) extends Ops(checks, tracer) with Workload {
  val passName = s"${cfg.queries.size} queries"
  val opName = "query"
  private val rng = new scala.util.Random(cfg.seed)
  private val fns = cfg.queries.map(q => q -> SparkEntry.queries(q)).toMap

  /** Table load: resolves each corpus table's parquet schema. */
  def generate(n: Int): Unit =
    graft.Tables.names.filter(t => Files.exists(java.nio.file.Paths.get(cfg.tables, s"$t.parquet")))
      .foreach(t => graft.Tables.load(spark, cfg.tables, t).schema)

  /** Warm-up: one pass that dumps each result as parquet for the DuckDB
    * oracle (tools/check.py), with the oracle SQL and a manifest beside
    * them, as graft.Verify lays them out.
    */
  def warmUp(): Unit = {
    val out = cfg.work.resolve("results")
    cfg.queries.foreach { q =>
      op(s"queries.$q") {
        fns(q)(spark, cfg.tables).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      }
    }
    finish()
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(cfg.queries.flatMap(q => oracle.get(q).map(s => q -> Json.str(s)))))
    Files.writeString(out.resolve("_manifest.json"),
      Json.obj(cfg.queries.map(q => q -> Json.str("ok"))))
  }

  def pass(n: Int): Pass = {
    rng.shuffle(cfg.queries).foreach { q =>
      op(s"queries.$q") {
        fns(q)(spark, cfg.tables).write.format("noop").mode("overwrite").save()
      }
    }
    finish()
  }

  def check(): Unit = ()

  def layers(t: Tracer): Unit =
    cfg.queries.foreach(q => rep.metric(s"queries.${q}_s", spanMedian(t, s"queries.$q"), "s"))

  /** No stored volume here: the probes use the seeded volume's first
    * block, encoded in memory.
    */
  def probeBlocks(): Seq[Array[Byte]] = {
    val v = Volume(cfg.seed, Array(Store.Block, Store.Block, Store.Block))
    Seq(BlockCodec.encode(Array.fill(3)(Store.Block), v.all().map(b => (b & 0xff).toLong),
      null, Dtype.UInt8, Store.Gzip))
  }
}
