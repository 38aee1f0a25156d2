package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Run settings; run.py passes every one of them. */
final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, cores: Int)

object Config {
  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("seed").toLong, m("seconds").toDouble,
           m("trace") == "1", m("work"), m("cores").toInt)
  }
}

/** Shared state of one run: the current Spark session (restarted to change
  * width), the tracer, correctness bookkeeping and the work directory. */
final class Ctx(val cfg: Config) {
  val tracer = new Tracer(cfg.trace)
  val out = new Outcomes
  private var current: SparkSession = _
  private var width = 0

  def path(name: String): String = new File(cfg.work, name).getPath

  /** A local[cores] session; the one already running when it has that
    * width. Shuffle partitions stay at the widest width, so 1-core and
    * 4-core builds run the same plan. */
  def session(cores: Int): SparkSession = {
    if (current == null || width != cores) {
      stop()
      current = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$cores")
        .config("spark.sql.shuffle.partitions", cfg.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", path("spark-local"))
        .config("spark.sql.warehouse.dir", path("warehouse"))
        .getOrCreate()
      SparkSession.setActiveSession(current)
      current.sparkContext.setLogLevel("ERROR")
      tracer.attach(current.sparkContext)
      width = cores
    }
    current
  }

  def stop(): Unit = if (current != null) {
    tracer.drain()
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
    width = 0
  }

  def deleteDir(p: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(p))
  }
}

/** One run of a workload. A timed run measures the workload's own phases
  * (index: build then serve; ops: the dedup and ANN gates) and reports the
  * end-to-end metrics; a traced run measures all three phases, its own at
  * full length and the others at their minimum sample counts, and reports
  * every per-layer metric. Each phase is measured from outside by timing
  * calls into the program's public functions. Writes result.json (and
  * spans.jsonl when traced) to the work directory; run.py adds its DuckDB
  * checks and prints the result line. */
object Main {
  val Workloads = Map("index" -> Seq("build", "serve"), "ops" -> Seq("ops"))
  val SetUps = 5
  // share of --seconds the index workload gives its build phase
  val BuildShare = 0.4

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val own = Workloads.getOrElse(cfg.workload, sys.error(s"unknown workload ${cfg.workload}"))
    val ctx = new Ctx(cfg)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val claims = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val run = if (cfg.trace) Seq("build", "serve", "ops") else own
    def full(phase: String) = own.contains(phase)
    def seconds(phase: String) =
      if (!full(phase)) 0.0
      else if (own.length == 1) cfg.seconds
      else if (phase == "build") cfg.seconds * BuildShare
      else cfg.seconds * (1 - BuildShare)
    // set-up: a fresh session, then the phase's inputs loaded; several
    // times when it is the workload's set-up, once otherwise. The session
    // before it is stopped untimed, so no set-up pays for another's teardown.
    def setUp[T](phase: String)(load: => T): T = {
      val times = (0 until (if (full(phase)) SetUps else 1)).map { _ =>
        ctx.stop()
        Stats.time(load)
      }
      if (full(phase)) e2e("setup_s") = Stats.median(times.map(_._2))
      Log(s"$phase set-ups ${times.map(_._2)}")
      times.last._1
    }
    def keep(phase: String, p: PhaseResult): Unit = {
      layer ++= p.layer
      claims ++= p.claims
      if (full(phase)) e2e ++= p.e2e
      Log(s"$phase ${p.layer} ${p.e2e}")
    }
    try {
      if (run.contains("ops")) OpsPhase.writeOracles(ctx)
      // the JVM's first session: Spark's one-time init
      val (_, coldS) = Stats.time(ctx.session(cfg.cores))
      layer("setup.cold_s") = coldS
      Log(f"cold session $coldS%.2f s")
      // run.py writes the inputs while this JVM starts
      val ready = new File(ctx.path("inputs.ready"))
      while (!ready.exists()) Thread.sleep(20)
      Log("inputs ready")

      var indexDir = ""
      if (run.contains("build")) {
        val b = BuildPhase.run(ctx, seconds("build"), full("build"), narrow = cfg.trace)
        indexDir = b.indexDir
        keep("build", b)
      }
      if (run.contains("serve")) {
        val index = setUp("serve")(Setup.index(ctx, indexDir))
        keep("serve", ServePhase.run(ctx, index, seconds("serve"), full("serve")))
      }
      if (run.contains("ops")) {
        // set-ups after the checks, which warm up every gate, so that none
        // pays the first action
        if (full("ops")) OpsPhase.check(ctx)
        setUp("ops")(Setup.tables(ctx))
        keep("ops", OpsPhase.run(ctx, seconds("ops"), warmedUp = full("ops")))
      }
      e2e("peak_rss_mb") = peakRssMb()
      ctx.tracer.drain()
      if (cfg.trace) {
        layer ++= Layers.fromSpans(ctx.tracer, cfg.cores)
        ctx.tracer.write(Paths.get(ctx.path("spans.jsonl")))
      }
      write(ctx, e2e.toMap, layer.toMap, claims.toSeq)
    } finally ctx.stop()
  }

  /** VmHWM of this process. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def write(ctx: Ctx, e2e: Map[String, Double], layer: Map[String, Double],
                    claims: Seq[(String, Any)]): Unit = {
    val json = Json.obj(Seq(
      "e2e" -> e2e, "layer" -> layer,
      "attempted" -> ctx.out.attemptedCount, "failures" -> ctx.out.failed,
      "claims" -> claims.toMap))
    Files.write(Paths.get(ctx.path("result.json")), json.getBytes("UTF-8"))
  }
}
