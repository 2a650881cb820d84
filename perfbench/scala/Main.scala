package graftbench

import graft.n5.{BlockCodec, Compression, DatasetAttributes, Dtype, N5Meta}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver for one workload run. Arguments are key=value pairs
  * (see perfbench/run.py, which builds them); the result is written as a
  * JSON file for run.py to merge and print.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val cfg = Config(argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap)
    val rep = new Report
    val env = new Env(cfg.seed)
    val t0 = System.nanoTime()
    val spark = Session.start(cfg)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val checks = new Checks
    val tracer = new Tracer(spark.sparkContext)
    val w: Workload = cfg.workload match {
      case "roundtrip" => new Roundtrip(spark, cfg, checks, tracer, rep)
      case "scan" => new Scan(spark, cfg, checks, tracer, rep)
      case "sql_mix" => new SqlMix(spark, cfg, checks, tracer, rep)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: session start and the warm-up once, input generation (or
    // table load) three times, of which the median is charged
    val gens = (1 to 3).map(i => Stats.seconds(w.generate(i)))
    val warm = Stats.seconds(w.warmUp())
    rep.metric("setup_s", sessionS + Stats.median(gens) + warm, "s")
    rep.info(f"setup: session $sessionS%.3f s, generation ${gens.map(r => f"$r%.3f").mkString(" ")} s" +
      f", warm-up $warm%.3f s")

    env.start()
    val ledger = new Ledger
    if (cfg.trace) spark.sparkContext.addSparkListener(ledger)
    val passes = Runner.loop(w, tracer, cfg.workload, cfg.seconds, cfg.trace)
    if (cfg.trace) {
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ledger)
    }
    env.stop()
    val plain = passes.filterNot(_._2).map(_._1)
    val traced = passes.filter(_._2).map(_._1)

    if (!cfg.trace) {
      val quiet = plain.filter(_.steal <= Runner.MaxSteal)
      val used = if (quiet.size >= 2) quiet else plain
      val ops = used.flatMap(_.requests)
      rep.metric("wall_s", Pass.typical(used), "s")
      rep.metric("op_p50_s", Stats.median(ops), "s")
      val (tail, pct) = Stats.tail(ops)
      rep.info(s"${used.size} of ${plain.size} passes of ${w.passName} counted (stolen CPU share " +
        s"per pass ${plain.map(p => f"${p.steal}%.3f").mkString(" ")}; limit ${Runner.MaxSteal}); " +
        s"${ops.size} ${w.opName} samples, p$pct (the highest percentile with ten samples " +
        s"beyond it) $tail s")
    } else {
      rep.metric("trace.overhead_s", Pass.typical(traced) - Pass.typical(plain), "s")
      Layers.spark(rep, tracer, ledger, traced, spark.sparkContext.defaultParallelism)
      w.layers(tracer)
      Probes.run(rep, w.probeBlocks())
      rep.info(s"${plain.size} untraced and ${traced.size} traced passes of ${w.passName}")
      Files.write(cfg.work.resolve("spans.jsonl"), tracer.spans.map { s =>
        Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
          "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
          "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
      }.asJava, UTF_8)
    }
    w.check()
    rep.metric("peak_rss_mb", Env.peakRssMb, "MB")
    spark.stop()
    Files.writeString(cfg.out, Json.obj(Seq(
      "attempted" -> Json.num(checks.attempted),
      "failed" -> Json.num(checks.failed),
      "failures" -> Json.arr(checks.notes.take(20).map(Json.str).toSeq),
      "metrics" -> Json.obj(rep.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "info" -> Json.arr(rep.lines.map(Json.str).toSeq),
      "env" -> env.json(spark.version))))
  }
}

final case class Config(a: Map[String, String]) {
  val workload: String = a("workload")
  val seed: Long = a("seed").toLong
  val seconds: Int = a("seconds").toInt
  val trace: Boolean = a("trace") == "1"
  val work: Path = Paths.get(a("work")).toAbsolutePath
  val out: Path = Paths.get(a("out")).toAbsolutePath
  // workload-specific keys, read only by the workloads that use them
  lazy val dims: Array[Int] = a("dims").split(',').map(_.toInt)
  lazy val rois: Int = a("rois").toInt
  lazy val tables: String = a("tables")
  lazy val queries: Seq[String] = a("queries").split(',').filter(_.nonEmpty).toSeq
  val corrupt: String = a("corrupt")
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Session {
  /** The session settings graft.Bench uses, with every scratch location
    * inside the benchmark's work directory.
    */
  def start(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Named metrics plus free-text lines for the run's log. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = mutable.ArrayBuffer.empty[String]
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def info(s: String): Unit = lines += s
}

/** Op accounting behind fail_ratio: ops attempted, ops that threw or
  * returned a wrong result.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch {
      case e: Throwable =>
        failed += 1
        notes += s"$what threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        None
    }
  }
  /** Record a wrong result of an op already counted as attempted. */
  def expect(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) { failed += 1; notes += s"$what: $detail" }
}

/** One pass over a workload's ops: (name, latency) of each op call, the
  * latencies of its client requests (one op, or several ops in turn), and
  * the share of the host's CPU time the hypervisor stole during it.
  */
final case class Pass(ops: Seq[(String, Double)], requests: Seq[Double], steal: Double = 0.0) {
  def wall: Double = ops.map(_._2).sum
}

object Pass {
  /** Time of a typical pass: for each op name, the median of its latencies
    * over all passes times its calls per pass, summed. Robust to one slow
    * call in a pass, which a median of whole passes is not.
    */
  def typical(passes: Seq[Pass]): Double =
    passes.flatMap(_.ops).groupBy(_._1).valuesIterator
      .map(calls => Stats.median(calls.map(_._2)) * calls.size / passes.size).sum
}

trait Workload {
  def passName: String
  def opName: String
  /** Makes (or loads) the inputs; `n` counts repetitions from 1. */
  def generate(n: Int): Unit
  /** One untimed, unchecked run of the ops. */
  def warmUp(): Unit
  /** Runs one pass; only the time inside the op calls counts. */
  def pass(n: Int): Pass
  def check(): Unit
  def layers(t: Tracer): Unit
  /** Stored blocks (raw file bytes) for the codec ceiling probes. */
  def probeBlocks(): Seq[Array[Byte]]
}

object Runner {
  /** A pass during which the hypervisor stole more than this share of the
    * host's CPU time does not count toward the end-to-end metrics: on a
    * shared VM such episodes last minutes and slow every op 1.5–2×.
    */
  val MaxSteal = 0.06
  /** Op time a run may add, past `seconds`, to replace such passes. */
  val MaxExtraS = 10.0

  /** Closed loop: passes back to back until `seconds` of op time have run
    * in passes that count, and at least two such passes; or until
    * `seconds + MaxExtraS`. With `trace`, passes alternate between
    * untraced and traced (spans and job groups on), at least two of each,
    * so warm-up drift cancels out of the tracing overhead, and all count.
    * Returns each pass with whether it was traced.
    */
  def loop(w: Workload, t: Tracer, name: String, seconds: Double,
      trace: Boolean): Seq[(Pass, Boolean)] = {
    val out = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    val minPasses = if (trace) 4 else 2
    def counted = out.map(_._1).filter(p => trace || p.steal <= MaxSteal)
    def spent = out.map(_._1.wall).sum
    while ((counted.map(_.wall).sum < seconds || counted.size < minPasses) &&
        (spent < seconds + MaxExtraS || out.size < minPasses)) {
      System.gc()
      val traced = trace && out.size % 2 == 1
      t.enabled = traced
      val s0 = Env.stealTotal
      val p = try t.span(s"$name.pass", 0L)(w.pass(out.size)) finally t.enabled = false
      val s1 = Env.stealTotal
      out += ((p.copy(steal = (s1._1 - s0._1).toDouble / math.max(1L, s1._2 - s0._2)), traced))
    }
    out.toSeq
  }
}

object Stats {
  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest percentile with at least ten samples beyond it: the
    * value with exactly ten larger samples (the maximum below eleven
    * samples), and that percentile.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100)
    else (s(s.size - 11), (100L * (s.size - 10) / s.size).toInt)
  }
}

/** Per-run environment over the timed loop: cores, load, process CPU ÷
  * wall, the share of CPU time the hypervisor stole, versions, seed.
  */
final class Env(seed: Long) {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def cpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  import Env.stealTotal
  private var load0, load1, cpu0, cpu1, wall0, wall1 = 0.0
  private var st0, st1 = (0L, 0L)
  def start(): Unit = {
    load0 = os.getSystemLoadAverage; cpu0 = cpuS; wall0 = System.nanoTime() / 1e9; st0 = stealTotal
  }
  def stop(): Unit = {
    load1 = os.getSystemLoadAverage; cpu1 = cpuS; wall1 = System.nanoTime() / 1e9; st1 = stealTotal
  }
  def json(sparkVersion: String): String = Json.obj(Seq(
    "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
    "cores_used" -> Json.num(Runtime.getRuntime.availableProcessors()),
    "load1_before" -> Json.num(load0), "load1_after" -> Json.num(load1),
    "cpu_per_wall" -> Json.num((cpu1 - cpu0) / (wall1 - wall0)),
    "cpu_steal_share" -> Json.num((st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2)),
    "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
    "spark" -> Json.str(sparkVersion),
    "seed" -> Json.num(seed)))
}

object Env {
  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def stealTotal: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Storage helpers: write the seeded source volume, walk a directory. */
object Store {
  val Block = 128
  val Gzip: Compression = Compression("gzip")

  final case class Source(sum: Long, hist: Array[Long], stored: Long, files: Int)

  /** Writes `vol` as N5 dataset `ds` under `root` in Block³ gzip blocks,
    * one Spark task per block.
    */
  def writeSource(spark: SparkSession, vol: Volume, root: String, ds: String): Source = {
    val attrs = DatasetAttributes(vol.dims.map(_.toLong), Array(Block, Block, Block),
      Dtype.UInt8, Gzip)
    N5Meta.ensureRoot(root)
    N5Meta.writeDatasetAttributes(root, ds, attrs)
    val grids = attrs.gridPositions.map(_.clone).toSeq
    val parts = spark.sparkContext.parallelize(grids, grids.size).map { g =>
      val shape = attrs.blockShape(g)
      val bytes = vol.box(g(0) * Block, g(1) * Block, g(2) * Block, shape(0), shape(1), shape(2))
      val enc = BlockCodec.encode(shape, bytes.map(b => (b & 0xff).toLong), null, Dtype.UInt8, Gzip)
      val p = Paths.get(root, ds, g(0).toString, g(1).toString, g(2).toString)
      Files.createDirectories(p.getParent)
      Files.write(p, enc)
      val hist = new Array[Long](256)
      bytes.foreach(b => hist(b & 0xff) += 1)
      (Volume.sum(bytes), hist, enc.length.toLong)
    }.collect()
    val hist = new Array[Long](256)
    parts.foreach(p => (0 until 256).foreach(i => hist(i) += p._2(i)))
    Source(parts.map(_._1).sum, hist, parts.map(_._3).sum, parts.length)
  }

  /** The regular files under `dir`. */
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  /** (bytes, files) of the regular files under `dir`. */
  def walk(dir: Path): (Long, Long) = {
    val s = files(dir).map(Files.size)
    (s.sum, s.size.toLong)
  }

  /** Stored block files of a dataset, with their grid positions. */
  def blockFiles(root: String, ds: String): Seq[(Array[Int], Path)] = {
    val base = Paths.get(root, ds)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p))
      .filter(r => r.getNameCount == 3)
      .map(r => (Array.tabulate(3)(i => r.getName(i).toString.toInt), base.resolve(r)))
      .toVector
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Decoded uint8 content of one stored block. */
  def decode(raw: Array[Byte], comp: Compression): Array[Byte] = {
    val b = BlockCodec.decode(raw, Dtype.UInt8, comp)
    b.longs.map(_.toByte)
  }

  def readDataset(root: String, ds: String): (Array[Int], Seq[(Array[Int], Array[Int], Array[Byte])]) = {
    val attrs = N5Meta.datasetAttributes(root, ds)
    val blocks = blockFiles(root, ds).map { case (g, p) =>
      val b = BlockCodec.decode(Files.readAllBytes(p), attrs.dataType, attrs.compression)
      (g, b.shape, b.longs.map(_.toByte))
    }
    (attrs.dimensions.map(_.toInt), blocks)
  }
}
