package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Queries.QFn

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this program with `key=value` arguments and reads back the
  * raw samples it writes to `out/result.json`:
  *
  *   kind=batch|stream out=DIR seconds=N trace=0|1 cores=N
  *   batch:  dirs=batch=DIR;gate=DIR queries=name[@set],... (a query
  *           runs on input set `batch` unless it names another)
  *   stream: seed=N rate=ROWS_PER_S
  *
  * Batch: one untimed pass writes every query's output under
  * `out/check/` for the oracle comparison; then timed executions
  * materialize each query to the `noop` sink, one at a time, with a
  * full GC before each (outside the timer), in rounds (see `timed`).
  * With trace=1, traced rounds follow the untraced ones. */
object Main {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Logs how far the run has got, for reading a slow run's jvm.log. */
  def mark(what: String): Unit = System.err.println(f"perfbench: $what at $sinceStart%.1f s")

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }
      .toMap
    val out = a("out")
    val cores = a("cores").toInt
    val spark = session(cores, out)
    mark("session ready")
    val result =
      try {
        if (a("kind") == "batch") batch(spark, a, out)
        else StreamRun(spark, a, out, cores)
      } finally spark.stop()
    Files.writeString(Paths.get(out, "result.json"), Json(result))
  }

  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$out/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def errText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  private def batch(spark: SparkSession, a: Map[String, String],
                    out: String): Map[String, Any] = {
    val dirs = a("dirs").split(";").map { d =>
      val i = d.indexOf('='); d.take(i) -> d.drop(i + 1) }.toMap
    val queries = a("queries").split(",").toSeq.map { q =>
      val name = q.takeWhile(_ != '@')
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      (q, name, dirs(if (q.contains('@')) q.drop(name.length + 1) else "batch"), fn)
    }
    val seconds = a("seconds").toDouble
    val cache = spark.sharedState.cacheManager
    // input registration: read every table's footer once
    for (dir <- queries.map(_._3).distinct; t <- graft.sources.Tables.all
         if Files.exists(Paths.get(s"$dir/$t.parquet")))
      graft.sources.Tables(spark, dir, t).schema
    mark("inputs registered")
    // warm-up pass: every output goes to parquet for the oracle check
    val warmErrors = mutable.LinkedHashMap[String, String]()
    val warmMs = for ((key, _, dir, fn) <- queries) yield {
      val t0 = System.nanoTime()
      try fn(spark, dir).write.mode("overwrite")
        .parquet(s"$out/check/$key")
      catch { case t: Throwable => warmErrors(key) = errText(t) }
      key -> (System.nanoTime() - t0) / 1e6
    }
    cache.clearCache()
    val setupS = sinceStart
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(queries.map {
      case (key, name, _, _) => key -> graft.SparkEntry.oracleSql.get(name) }.toMap))

    val heap = mutable.ArrayBuffer[Double]()
    /** Timed executions, each one query to the noop sink after a full GC.
      * The batch-scale queries run once per round, at least three rounds
      * and until another would end past `budget`; then each query on
      * another input set (above the graph gate, ~5 s each) runs once.
      * The CacheManager is cleared after each round. */
    def timed(budget: Double, tracer: Option[Tracer]): Seq[Map[String, Any]] = {
      val runs = mutable.ArrayBuffer[Map[String, Any]]()
      def round(name: String, qs: Seq[(String, String, String, QFn)]): Unit = {
        val passSpan = tracer.map(_.newId()).getOrElse(0L)
        val passStart = tracer.map(_.nowMs).getOrElse(0.0)
        for ((key, _, dir, fn) <- qs) {
          heap += JvmCounters.heapUsedAfterGcMb
          val t0 = System.nanoTime()
          var err: Option[String] = None
          val traced = tracer match {
            case None =>
              try fn(spark, dir).write.format("noop").mode("overwrite").save()
              catch { case t: Throwable => err = Some(errText(t)) }
              Map.empty[String, Any]
            case Some(tr) =>
              val qSpan = tr.newId()
              val qStart = tr.nowMs
              val gc0 = JvmCounters.gcMs
              val (cg0, cgMs0) = JvmCounters.codegen
              val (df, build) = tr.phase(qSpan, "build", key) {
                try Some(fn(spark, dir))
                catch { case t: Throwable => err = Some(errText(t)); None }
              }
              val bEnd = tr.nowMs
              val (_, exec) = tr.phase(qSpan, "exec", key) {
                df.foreach(d =>
                  try d.write.format("noop").mode("overwrite").save()
                  catch { case t: Throwable => err = Some(errText(t)) })
              }
              val qEnd = tr.nowMs
              tr.span(passSpan, "query", key, qStart, qEnd, qSpan)
              val (cg1, cgMs1) = JvmCounters.codegen
              val cached = spark.sparkContext.getRDDStorageInfo
                .map(i => i.memSize + i.diskSize).sum
              Map("build_s" -> (bEnd - qStart) / 1000.0,
                "exec_s" -> (qEnd - bEnd) / 1000.0,
                "build" -> build.json, "exec" -> exec.json,
                "gc_ms" -> (JvmCounters.gcMs - gc0),
                "codegen_n" -> (cg1 - cg0), "codegen_ms" -> (cgMs1 - cgMs0),
                "cached_bytes" -> cached)
          }
          runs += Map("query" -> key, "round" -> name,
            "ms" -> (System.nanoTime() - t0) / 1e6, "error" -> err.orNull) ++ traced
        }
        cache.clearCache()
        tracer.foreach(tr => tr.span(0L, "pass", name, passStart, tr.nowMs, passSpan))
      }
      val (scaled, gated) = queries.partition(_._3 == dirs("batch"))
      val start = System.nanoTime()
      var n = 0
      var lastNs = 0L
      while (n < 3 || System.nanoTime() - start + lastNs <= budget * 1e9) {
        val r0 = System.nanoTime()
        round(s"round$n", scaled)
        lastNs = System.nanoTime() - r0
        n += 1
      }
      if (gated.nonEmpty) round("gate", gated)
      runs.toSeq
    }

    val untraced = timed(seconds, None)
    val traced = if (a("trace") == "1") {
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
      val t0 = tr.nowMs
      val scans = for (dir <- queries.map(_._3).distinct;
                       t <- graft.sources.Tables.all
                       if Files.exists(Paths.get(s"$dir/$t.parquet"))) yield {
        val (_, st) = tr.phase(0L, "scan", s"$dir/$t") {
          graft.sources.Tables(spark, dir, t).write.format("noop")
            .mode("overwrite").save()
        }
        Map("table" -> t, "dir" -> dir, "stats" -> st.json)
      }
      val runs = timed(seconds, Some(tr))
      tr.span(0L, "run", "traced", t0, tr.nowMs, 0L)
      Json.writeSpans(s"$out/spans.jsonl", tr.spans.toSeq)
      Map("runs" -> runs, "scans" -> scans,
        "scan_spans" -> tr.spans.filter(_.kind == "scan")
          .map(s => Map("name" -> s.name, "ms" -> (s.end - s.start))))
    } else null
    Map("kind" -> "batch", "setup_s" -> setupS, "warm_errors" -> warmErrors,
      "warm_ms" -> warmMs.toMap,
      "runs" -> untraced, "heap_after_gc_mb" -> heap.toSeq,
      "traced" -> traced)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.writeString(Paths.get(path), spans.map { s =>
      apply(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end))
    }.mkString("", "\n", "\n"))
}
