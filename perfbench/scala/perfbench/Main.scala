package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One workload of the benchmark: how its sources are registered, its
  * warm-up pass, and one closed-loop operation. */
trait Workload {
  /** The measurement's tracer (disabled ones record nothing). */
  var tracer: Tracer = Tracer.off
  /** The tracer op work should report to. */
  protected def tr(traced: Boolean): Tracer = if (traced) tracer else Tracer.off
  def clients: Int = 1
  /** Register the sources on the session. */
  def register(spark: SparkSession): Unit
  /** Run the workload until its JIT-compiled paths are warm. */
  def warmup(): Unit
  /** The op index of client `c`'s `k`-th op. */
  def opIndex(c: Int, k: Int): Int = k
  /** Whether op `i` has input left (generated streams are finite). */
  def hasOp(i: Int): Boolean = true
  /** Run op `i`; returns its kind and what the checker needs. */
  def op(i: Int, traced: Boolean): (String, Map[String, Any])
  /** Anything the checker needs once per run (oracle text, paths). */
  def runInfo: Map[String, Any] = Map.empty
}

/** The benchmark's JVM entry point. Runs one workload for a fixed time and
  * writes every op's timing and output digest to a JSON result file;
  * perfbench/run.py checks the outputs and computes the metrics.
  *
  * {{{
  * perfbench.Main --workload bi_queries --data <dir> --work <dir>
  *   --seconds 18 --trace 0 --cores 4 --out result.json
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit =
    run(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def run(a: Map[String, String]): Unit = {
    val name = a("workload")
    val data = a("data"); val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a.getOrElse("cores",
      Runtime.getRuntime.availableProcessors().toString).toInt
    Files.createDirectories(Paths.get(work))

    val wl: Workload = name match {
      case "warehouse_build" => new Warehouse(data, work, cores)
      case "bi_queries" => new BiQueries(data, work)
      case "cdc_upsert" => new CdcUpsert(data, work)
      case "curation_dedup" => new CurationDedup(data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, timed from JVM start: session, source registration, warm-up
    val t00 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores, "perfbench")
    val t1 = System.currentTimeMillis()
    wl.register(spark)
    val t2 = System.currentTimeMillis()
    wl.warmup()
    val t3 = System.currentTimeMillis()
    System.err.println(s"[perfbench] set-up: session ${(t1 - t00) / 1000.0}s " +
      s"register ${(t2 - t1) / 1000.0}s warm-up ${(t3 - t2) / 1000.0}s")

    val tracer = new Tracer(spark.sparkContext, trace)
    tracer.install(spark)
    wl.tracer = tracer

    // closed loop: each client starts its next op when the previous one
    // returns, until the time is up
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val t0 = System.currentTimeMillis()
    val deadline = t0 + (seconds * 1000).toLong
    // at least three ops, so the median has a middle even when one op
    // outlasts the run; a traced run alternates bare and traced ops,
    // which gives the tracing overhead, and runs at least two of each
    val minOps = if (trace) 4 else 3
    def client(c: Int): Unit = {
      var k = 0
      var i = wl.opIndex(c, k)
      while ((System.currentTimeMillis() < deadline || k < minOps) && wl.hasOp(i)) {
        val traced = trace && k % 2 == 1
        val root = if (traced) tracer.beginOp(i + 1, "op") else null
        if (trace && !traced) tracer.clearOp()
        val s = tracer.nowMs
        val (kind, payload, err) =
          try { val (kd, p) = wl.op(i, traced); (kd, p, null) }
          catch { case e: Throwable => ("error", Map.empty[String, Any], e.toString) }
        val e = tracer.nowMs
        if (root != null) tracer.close(root)
        ops.add(Map("id" -> i, "kind" -> kind, "traced" -> traced,
          "start_ms" -> s, "end_ms" -> e, "payload" -> payload, "error" -> err))
        k += 1
        i = wl.opIndex(c, k)
      }
    }
    val threads = (0 until wl.clients).map { c =>
      val t = new Thread(() => client(c)); t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.currentTimeMillis() - t0) / 1000.0

    val res = Map(
      "workload" -> name, "cores" -> cores, "clients" -> wl.clients,
      "setup_s" -> (t3 - t00) / 1000.0, "wall_s" -> wall,
      "ops" -> ops.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]),
      "trace" -> tracer.dump(),
      "vm_hwm_kb" -> vmHwmKb(), "info" -> wl.runInfo)
    spark.stop()
    Files.write(Paths.get(a("out")), Json(res).getBytes("UTF-8"))
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Total bytes and part-file count under `dir`. */
  def dirStats(dir: String): (Long, Int) = {
    val f = new File(dir)
    if (!f.exists()) (0L, 0)
    else {
      val files = Files.walk(f.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p)).toSeq
      (files.map(p => Files.size(p)).sum,
        files.count(_.getFileName.toString.startsWith("part-")))
    }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case ts: java.sql.Timestamp =>
      (ts.getTime * 1000L + (ts.getNanos / 1000) % 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => quote(d.toString)
    case d: java.time.LocalDate => quote(d.toString)
    case n: java.math.BigDecimal => n.toPlainString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case arr: Array[_] => apply(arr.toSeq)
    case other => quote(other.toString)
  }
}
