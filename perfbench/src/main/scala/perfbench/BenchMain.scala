package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sinks.ParquetUpsertSink
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, starts
  * this program, and checks and reports what it writes:
  *
  * {{{
  * BenchMain --workload etl|curation --input DIR --warmup DIR
  *           [--hours N --warmup-hours N]
  *           --work DIR --seconds S --trace 0|1 --out FILE
  * }}}
  *
  * Sessions run `local[4]`. Set-up is timed twice: each time a fresh
  * session starts and runs
  * one warm-up pass over a small warm-up input; the last session stays
  * up for the measurement. Then, within `--seconds`, runs repeat on fresh
  * roots (ETL) or fresh corpus copies (curation), so no run reuses
  * state or program memos of an earlier one; at least one run is made.
  * With `--trace 1` a traced and an untraced run alternate, and the
  * curation workload's MinHash candidate mass is measured once after
  * the runs.
  */
object BenchMain {

  private val Cpus = 4
  private val Setups = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val etl = a("workload") == "etl"

    var spark: SparkSession = null
    var fresh = 0
    def freshDir(tag: String): Path = { fresh += 1; work.resolve(s"$tag-$fresh") }

    // a warm-up pass runs every warm-up hour on a fresh root (so both the
    // upsert's fresh-write and merge paths), or writes every query's
    // result over a fresh copy of the warm-up corpus; the last set-up's
    // results are the ones the oracle check reads
    var checked = ""
    def warmUp(s: SparkSession): Unit =
      if (etl) new Etl(s, a("warmup"), a("warmup-hours").toInt).run(freshDir("warmup").toString)
      else {
        checked = freshDir("results").toString
        new Curation(s).dump(copyCorpus(a("warmup"), freshDir("warmup")).toString, checked)
      }

    val setup = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      spark = session(work)
      warmUp(spark)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < Setups) spark.stop()
      t
    }

    val hours = a.getOrElse("hours", "0").toInt
    val runs = Seq.newBuilder[Map[String, Any]]
    val tracedRuns = Seq.newBuilder[Map[String, Any]]
    // runs repeat while the next one, as long as the last, still ends
    // inside the window; the first always runs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var first = true
    var last = 0L
    while (first || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      // the traced run goes first, in the place the measured run of an
      // untraced invocation has
      if (traced) {
        val tracer = new Tracer(spark)
        try tracedRuns += (if (etl) etlRun(spark, a("input"), hours, freshDir("root"), Some(tracer))
                           else curationRun(spark, a("input"), freshDir("corpus"), Some(tracer)))
        finally tracer.close()
      }
      runs += (if (etl) etlRun(spark, a("input"), hours, freshDir("root"), None)
               else curationRun(spark, a("input"), freshDir("corpus"), None))
      first = false
      last = System.nanoTime() - t0
    }

    val oracle = if (etl) Map.empty else Curation.Queries.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    val minhash =
      if (traced && !etl) new Curation(spark).minhashStats(a("input")) else Map.empty[String, Double]
    val result = Map(
      "setup_s" -> setup, "runs" -> runs.result(), "traced" -> tracedRuns.result(),
      "oracle" -> oracle, "results" -> checked, "minhash" -> minhash)
    Files.writeString(Paths.get(a("out")), Json.render(result))
    spark.stop()
  }

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps at most this many jobs, stages, tasks and
      // SQL executions, so the live heap measures the program, not a
      // history that grows with the run count and is trimmed in steps
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def etlRun(spark: SparkSession, landing: String, hours: Int, root: Path,
      tracer: Option[Tracer]): Map[String, Any] = {
    val etl = new Etl(spark, landing, hours)
    ParquetUpsertSink.resetIoStats()
    val t0 = System.nanoTime()
    val (walls, thrown, staged) = tracer match {
      case None => val (w, t) = etl.run(root.toString); (w, t, Nil)
      case Some(tr) => etl.traced(root.toString, tr)
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val io = ParquetUpsertSink.ioStats
    val heap = liveHeapMb()
    val extra = tracer.fold(Map.empty[String, Any]) { tr =>
      Map("trace" -> tr.result(), "probe" -> etl.probe(staged),
        "io" -> Map("promote_s" -> io.promoteSec, "files_written" -> io.filesWritten,
          "calls" -> io.calls))
    }
    val state = etl.state(root.toString)
    delete(root)
    Map("run_s" -> runS, "steps" -> walls, "thrown" -> thrown, "heap_live_mb" -> heap,
      "state" -> state) ++ extra
  }

  private def curationRun(spark: SparkSession, corpus: String, copy: Path,
      tracer: Option[Tracer]): Map[String, Any] = {
    val cur = new Curation(spark)
    val dir = copyCorpus(corpus, copy).toString
    val t0 = System.nanoTime()
    val results = cur.run(dir, tracer)
    val runS = (System.nanoTime() - t0) / 1e9
    val heap = liveHeapMb()
    val extra = tracer.fold(Map.empty[String, Any])(tr => Map("trace" -> tr.result()))
    delete(copy)
    Map("run_s" -> runS, "steps" -> results.map(_._2), "heap_live_mb" -> heap,
      "rows" -> results.map { case (n, _, r) => n -> r }.toMap,
      "thrown" -> results.count(_._3.isEmpty)) ++ extra
  }

  /** Live heap in MiB: the least heap in use after each of three full
    * collections. Spark's context cleaner frees broadcast and shuffle
    * blocks only after a collection has found their handles unreachable,
    * so each collection is followed by a pause for it to run. */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** A fresh copy of a corpus directory: memos keyed by the source
    * path then miss, as they would for a new corpus. */
  private def copyCorpus(src: String, dst: Path): Path = {
    Files.createDirectories(dst)
    Files.list(Paths.get(src)).iterator().asScala.foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName))
    }
    dst
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
}
