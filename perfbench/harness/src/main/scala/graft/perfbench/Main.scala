package graft.perfbench

import graft.GraftConf
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Everything one workload run needs: the session, its inputs, the
  * generator's expected counts and the result being filled in.
  */
final class Ctx(val spark: SparkSession, val params: JValue, val res: Result,
    val tracer: Option[Tracer]) {
  implicit private val formats: Formats = DefaultFormats
  val input: String = (params \ "input").extract[String]
  val work: String = (params \ "work").extract[String]
  val seed: Long = (params \ "seed").extract[Long]
  val seconds: Double = (params \ "seconds").extract[Double]
  val expected: JValue = params \ "expected"
  def long(name: String): Long = (expected \ name).extract[Long]
  def strings(name: String): Seq[String] = (expected \ name).extract[Seq[String]]
  def param(name: String): Int = (params \ name).extract[Int]
  def double(name: String): Double = (params \ name).extract[Double]
  /** The end of a measurement of `seconds` that starts now. */
  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** Metrics, output checks and failure accounting of one run. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    metrics(name) = (value, unit, samples)
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    ok
  }

  def toJson(extra: (String, JValue)*): String = JsonMethods.compact(JObject(List(
    "attempted" -> JInt(attempted),
    "failed" -> JInt(failed),
    "checks" -> JArray(checks.toList.map { case (n, ok, d) =>
      JObject("name" -> JString(n), "ok" -> JBool(ok), "detail" -> JString(d)) }),
    "metrics" -> JObject(metrics.toList.map { case (n, (v, u, s)) =>
      // a metric with no finite value is reported as null (missing)
      n -> JObject("value" -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v)),
        "unit" -> JString(u), "samples" -> JInt(s)) })
  ) ++ extra))
}

object Stats {
  /** Nearest-rank percentile; failures enter as +Inf. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs one workload in this JVM and writes its result file.
  *
  * Usage: `Main <params.json>`; `perfbench/run.py` writes the params
  * (inputs, expected counts, run length, trace flag) and reads the
  * result back.
  */
object Main {

  def main(args: Array[String]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val params = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val trace = (params \ "trace").extract[Int] == 1
    val resultPath = (params \ "result").extract[String]
    val res = new Result
    val t0 = System.nanoTime()
    val spark = GraftConf.local((params \ "cores").extract[Int])
      .config("spark.sql.warehouse.dir", s"${(params \ "work").extract[String]}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, params, res, tracer)
    var setupS = Double.NaN
    try {
      // every workload runs the same path; the generated inputs and
      // the request keys set them apart
      val out = s"${ctx.work}/store"
      val t1 = System.nanoTime()
      tracer match {
        case None => Ingest.untraced(ctx, out)
        case Some(t) => Ingest.traced(ctx, t, out)
      }
      System.err.println(f"[perfbench] write path done in ${(System.nanoTime() - t1) / 1e9}%.1f s")
      setupS = sessionS + Serve.run(ctx, out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.failed += 1
        res.attempted = math.max(res.attempted, res.failed)
        res.check("run completed", ok = false, e.toString)
    } finally {
      val spans = tracer.toSeq.flatMap(_.spans).map(s => JObject(
        "name" -> JString(s.name),
        "parent" -> s.parent.fold[JValue](JNull)(JString(_)),
        "start_ms" -> JDouble(s.startMs), "end_ms" -> JDouble(s.endMs),
        "counts" -> JObject(s.counts.toMap.toList.map { case (k, v) => k -> JInt(v) })))
      Files.write(Paths.get(resultPath), res.toJson(
        "session_s" -> JDouble(sessionS),
        "workload_setup_s" -> JDouble(setupS - sessionS),
        "spans" -> JArray(spans.toList)).getBytes(UTF_8))
      spark.stop()
    }
  }
}
