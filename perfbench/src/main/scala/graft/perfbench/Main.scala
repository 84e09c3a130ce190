package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload <kg_batch|graph_query> --seed <n> --seconds <s> --trace <0|1>
  *        --t0 <epoch ms of the launch> --docs <documents.parquet>
  *        --work <run dir> --cache <per-seed cache dir> --out <result.json>
  *
  * Writes one JSON result: operation counts, the checks made, and either the
  * end-to-end metrics (untraced) or the per-layer metrics (traced). The
  * calling script prints the final line.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                        t0Ms: Long, docs: String, work: String, cache: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("t0").toLong, get("docs"), get("work"), get("cache"), get("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    args.workload match {
      case "kg_batch"    => KgBatch.run(ctx)
      case "graph_query" => GraphQuery.run(ctx)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.finish()
  }
}

/** State of one run: the Spark session, the trace, the operation tally and
  * the metrics to report.
  */
final class Ctx(val args: Main.Args) {
  private var session: SparkSession = _
  private var tr: Trace = _
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[Json.Obj]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val sidecar = mutable.LinkedHashMap.empty[String, Any]
  private var readyMs = -1L

  def spark: SparkSession = session
  def trace: Trace = tr
  def traced: Boolean = args.traced

  /** (re)start Spark at `local[cores]`; a running session is stopped first */
  def startSpark(cores: Int): SparkSession = {
    if (session != null) { tr.detach(); session.stop() }
    val local = Paths.get(args.work, "spark-local").toString
    session = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // the same plan at every core count, so local[1] runs the identical job:
      // partition counts never follow the core count
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.default.parallelism", Main.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    tr = Trace.attach(session.sparkContext, traced)
    session
  }

  /** end of set-up: the launch-to-ready time is taken here */
  def ready(): Unit = if (readyMs < 0) {
    readyMs = System.currentTimeMillis()
    metric("setup_s", (readyMs - args.t0Ms) / 1000.0, "s")
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Closed loop, one client: the next call starts when the last returns.
    * Runs for the run's seconds and at least `min` calls; returns the
    * latencies of the calls that passed.
    */
  def closedLoop(min: Int)(call: => Option[Double]): Seq[Double] = {
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (n < min || System.nanoTime() < end) {
      call.foreach(out += _)
      n += 1
    }
    out.toSeq
  }

  /** one attempted operation; an exception counts as a failure */
  def op(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        false
    }
    if (!ok) {
      failed += 1
      checks += Json.obj("name" -> name, "ok" -> false)
    }
    ok
  }

  /** a named output check, recorded in the result */
  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED $detail")
    ok
  }

  def finish(): Unit = {
    if (traced) Jvm.report(this)
    else metric("peak_rss_mb", Jvm.peakRssMb(), "MB")
    if (session != null) { tr.detach(); session.stop() }
    val out = Json.obj(
      "attempted" -> attempted,
      "failed" -> failed,
      "checks" -> checks.toSeq,
      "metrics" -> Json.Obj(metrics.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }),
      "sidecar" -> Json.Obj(sidecar.toSeq))
    Files.writeString(Paths.get(args.out), Json.render(out), StandardCharsets.UTF_8)
  }
}

object Jvm {
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def report(c: Ctx): Unit = {
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    c.metric("jvm.jit_ms", jit.toDouble, "ms")
    c.metric("jvm.classes_loaded", ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble, "count")
    c.metric("jvm.gc_ms", gc.toDouble, "ms")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear interpolation between closest ranks */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }
}

/** Order-independent digests of result sets. */
object Digest {
  def ofLines(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def rowLine(r: org.apache.spark.sql.Row): String =
    r.toSeq.map {
      case null      => "NULL"
      case d: Double => if (d.isNaN) "NULL" else d.toString
      case v         => v.toString
    }.mkString("\u0001")

  def ofRows(rows: Iterable[org.apache.spark.sql.Row]): String = ofLines(rows.map(rowLine))
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null            => "null"
    case Obj(fs)         => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float        => render(f.toDouble)
    case n: Int          => n.toString
    case n: Long         => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other           => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    b += '"'
    b.toString
  }
}
