package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares. `tmp` is this run's
  * java.io.tmpdir (where graft's vector layouts live), `warehouse` its
  * Spark warehouse (the posting table).
  */
final case class Ctx(spark: SparkSession, probes: Probes, data: String, out: Path,
                     tmp: Path, warehouse: Path, seed: Long, seconds: Double,
                     cores: Int) {
  /** Bytes of the workload's input parquet. */
  lazy val inputBytes: Long = Main.du(Paths.get(data))

  /** Bytes graft derived from the input: layouts and warehouse tables. */
  def derivedBytes: Long = Main.du(tmp) + Main.du(warehouse)
}

/** A run's outcome: metrics by name with their unit, plus the number
  * of checked operations and how many of them failed or were wrong.
  */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
  }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val ps = problems.map(p => "\"" + Main.esc(p) + "\"").mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"problems":$ps,"metrics":$ms}"""
  }
}

/** One workload per fresh JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <out dir>`.
  * The JVM's java.io.tmpdir, spark.local.dir and warehouse are set by
  * the caller to directories of this run alone, so no run sees another
  * run's layouts. Writes `result.json` (and `spans.jsonl` when traced)
  * to the out dir.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, out) = args
    Trace.on = trace == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val warehouse = Paths.get(System.getProperty("java.io.tmpdir")).resolveSibling("warehouse")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probes = new Probes(spark)
    probes.install()
    val ctx = Ctx(spark, probes, data, Paths.get(out),
      Paths.get(System.getProperty("java.io.tmpdir")), warehouse,
      seed.toLong, seconds.toDouble, cores)
    val res = new Result
    try Workloads.byName(workload)(ctx, res)
    catch {
      case e: Throwable =>
        res.check(ok = false, s"$workload aborted: $e")
        e.printStackTrace()
    }
    if (Trace.on) {
      Workloads.spanMetrics(res)
      Trace.write(ctx.out.resolve("spans.jsonl"))
    }
    Files.writeString(ctx.out.resolve("result.json"), res.json)
    spark.stop()
  }

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Bytes under a file or directory. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    } else Files.size(p)

  /** Remove a file or a directory tree. */
  def rm(p: Path): Unit =
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    } else Files.deleteIfExists(p)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile of sorted nanosecond samples, in ms. */
  def pctMs(sorted: Array[Long], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.ceil(sorted.length * q).toInt - 1 max 0)) / 1e6
}
