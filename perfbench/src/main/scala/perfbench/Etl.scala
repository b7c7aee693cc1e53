package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.time.Instant
import java.util.UUID

import scala.util.control.NonFatal

import graft.config.EntitySchema
import graft.jobs.{Executor, HandlerJob, IngestorJob, Pipelines, Stacks}
import graft.meta.{FileMonitorStore, HandlerExecution, IngestorExecution}
import graft.operators.{EntitySplit, KeyGen, Normalize}
import graft.sinks.ParquetUpsertSink
import graft.sources.JsonLinesSource
import graft.tools.Force
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The hourly ETL workloads: a backlog of landing hours, processed by
  * one `Executor.run` call per hour on a fresh warehouse root. */
final class Etl(spark: SparkSession, landing: String, hours: Int) {

  private val schemas = EntitySchema.reference

  /** Untraced run: wall time of every hour, plus the hours that threw. */
  def run(root: String): (Seq[Double], Int) = {
    var thrown = 0
    val walls = (0 until hours).map { _ =>
      val t0 = System.nanoTime()
      try Executor.run(spark, Executor.Args(root = root, landing = Some(landing)))
      catch { case NonFatal(e) => thrown += 1; System.err.println(s"hour failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    (walls, thrown)
  }

  /** Traced run: the calls `Executor.run` makes, in its order, each
    * inside a span of its layer. Returns the hour walls, the hours that
    * threw, and the staged paths (for the operator probes). */
  def traced(root: String, tracer: Tracer): (Seq[Double], Int, Seq[String]) = {
    var thrown = 0
    val staged = Seq.newBuilder[String]
    val walls = (0 until hours).map { _ =>
      val t0 = System.nanoTime()
      try tracer.span("jobs", "jobs.hour") { staged ++= tracedHour(root, tracer) }
      catch { case NonFatal(e) => thrown += 1; System.err.println(s"hour failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    (walls, thrown, staged.result())
  }

  private def tracedHour(root: String, tr: Tracer): Option[String] = {
    val store = tr.span("meta", "meta.open") {
      val s = new FileMonitorStore(spark, s"$root/monitor", warehouseDir = Some(s"$root/tables"))
      s.migrate(schemas.map(_.targetTable))
      s
    }
    val source = Pipelines.unionSourceStruct(schemas)
    val wfId = UUID.randomUUID().toString
    val now = Instant.now()

    val stagedPath = tr.span("jobs", "jobs.ingestor") {
      val executionId = UUID.randomUUID().toString
      val hour = tr.span("meta", "meta.cursor") {
        store.lastSuccessfulFetchHour().map(_.plusSeconds(3600)).getOrElse(IngestorJob.coldStart)
      }
      try {
        val files = tr.span("sources", "sources.list") {
          JsonLinesSource.listHourFiles(spark, landing, hour)
        }
        val dest =
          if (files.isEmpty) None
          else tr.span("sources", "sources.read_stage") {
            val d = s"$root/staging/$executionId"
            JsonLinesSource.read(spark, files, source).write.mode("overwrite").parquet(d)
            Some(d)
          }
        tr.span("meta", "meta.record_ingestor") {
          store.recordIngestor(IngestorExecution(wfId, executionId, Timestamp.from(now),
            Timestamp.from(hour), files.size, dest, None))
        }
        dest
      } catch {
        case NonFatal(e) =>
          tr.span("meta", "meta.record_ingestor") {
            store.recordIngestor(IngestorExecution(wfId, executionId, Timestamp.from(now),
              Timestamp.from(hour), 0, None, Some(Stacks.render(e))))
          }
          throw e
      }
    }

    tr.span("jobs", "jobs.handler") {
      val missing = tr.span("meta", "meta.table_check") {
        schemas.map(_.targetTable).filterNot(store.targetTableExists)
      }
      require(missing.isEmpty, s"missing target tables: ${missing.mkString(", ")}")
      val executionId = UUID.randomUUID().toString
      val path = tr.span("meta", "meta.staged_path") { store.stagedFilePath(wfId) }
      path.foreach { p =>
        val staged = spark.read.parquet(p).cache()
        try {
          val byEntity = tr.span("operators", "operators.split") {
            EntitySplit(staged, "on", schemas.map(_.entity))
          }
          schemas.foreach { schema =>
            var ready: DataFrame = null
            try {
              val n = tr.span("operators", "operators.pipeline") {
                ready = HandlerJob.entityPipeline(byEntity(schema.entity), schema).cache()
                ready.count()
              }
              tr.span("sinks", "sinks.upsert") {
                ParquetUpsertSink.upsert(spark, ready,
                  s"$root/tables/${schema.targetTable}", KeyGen.columnName)
              }
              tr.span("meta", "meta.record_handler") {
                store.recordHandler(HandlerExecution(wfId, executionId, Timestamp.from(now),
                  path, schema.targetTable, n, None))
              }
            } catch {
              case NonFatal(e) =>
                tr.span("meta", "meta.record_handler") {
                  store.recordHandler(HandlerExecution(wfId, executionId, Timestamp.from(now),
                    path, schema.targetTable, 0L, Some(Stacks.render(e))))
                }
            } finally if (ready != null) ready.unpersist()
          }
        } finally staged.unpersist()
      }
    }
    stagedPath
  }

  /** Operator probes over the staged batches of a traced run: force
    * successive prefixes of `HandlerJob.entityPipeline` (split, then
    * normalize, keygen, dedup) and time each; the differences are the
    * operators' costs. Also counts parsed rows for the source's
    * good-row ratio. */
  def probe(staged: Seq[String]): Map[String, Double] = {
    def timed(df: DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = Force.rows(df)
      ((System.nanoTime() - t0) / 1e9, n)
    }
    var split, norm, keyed, full = 0.0
    var keyedRows, keptRows, parsed = 0L
    staged.foreach { p =>
      val df = spark.read.parquet(p)
      parsed += df.filter(col(JsonLinesSource.corruptCol).isNull).count()
      val byEntity = EntitySplit(df, "on", schemas.map(_.entity))
      schemas.foreach { s =>
        val raw = byEntity(s.entity)
        timed(raw) // the first scan of a batch also pays its file listing
        split += timed(raw)._1
        norm += timed(Normalize(raw, s))._1
        val (tk, nk) = timed(KeyGen(Normalize(raw, s), s))
        keyed += tk; keyedRows += nk
        val (tf, nf) = timed(HandlerJob.entityPipeline(raw, s))
        full += tf; keptRows += nf
      }
    }
    Map(
      "normalize_s" -> (norm - split), "keygen_s" -> (keyed - norm),
      "dedup_s" -> (full - keyed),
      "dedup_kept_ratio" -> (if (keyedRows == 0) 0.0 else keptRows.toDouble / keyedRows),
      "parsed_rows" -> parsed.toDouble)
  }

  /** Warehouse and audit state of a root, in the form the expected-state
    * model produces: per table the row count, distinct keys and an
    * order-free hash of the canonical rows; the audit rows as sorted
    * tuples.
    *
    * Rows whose entity id is null cannot come from a well-formed event.
    * They are partial parses of malformed lines that still carry a
    * discriminator, so they are counted apart (`partial_rows`) and not
    * hashed; `malformed` gives, per hour and table, the staged malformed
    * rows that carry that table's discriminator, the most of them that
    * can leak past the entity split. */
  def state(root: String): Map[String, Any] = {
    val tables = schemas.map { s =>
      val path = s"$root/tables/${s.targetTable}"
      val (rows, partial, keys, hash) =
        if (!hasFiles(path)) (0L, 0L, 0L, 0L)
        else {
          val all = spark.read.parquet(path)
          val good = all.filter(col(s.keyColumns.head.dstName).isNotNull)
          val n = good.count()
          (n, all.count() - n, good.select(KeyGen.columnName).distinct().count(),
            if (n == 0) 0L else good.rdd.map(Etl.rowHash).reduce(_ + _))
        }
      s.targetTable -> Map("rows" -> rows, "distinct_keys" -> keys,
        "hash" -> f"$hash%016x", "partial_rows" -> partial)
    }.toMap
    val store = new FileMonitorStore(spark, s"$root/monitor", warehouseDir = Some(s"$root/tables"))
    val ing = store.ingestorRows()
    def hourOf(r: Row): Long = r.getAs[Timestamp]("fetchedHour").toInstant.getEpochSecond
    val hourOfWorkflow = ing.map(r => r.getAs[String]("workflowId") -> hourOf(r)).toMap
    val ingestor = ing.map(r => (hourOf(r), r.getAs[Int]("numberOfFilesFetched"),
      r.getAs[String]("traceback") != null)).sorted
    val handler = store.handlerRows().map(r => (hourOfWorkflow.getOrElse(r.getAs[String]("workflowId"), -1L),
      r.getAs[String]("destinationTable"), r.getAs[Long]("recordsInserted"),
      r.getAs[String]("traceback") != null)).sorted
    val malformed = ing.flatMap { r =>
      Option(r.getAs[String]("fileDestinationPath")).toSeq.flatMap { p =>
        val bad = spark.read.parquet(p).filter(col(JsonLinesSource.corruptCol).isNotNull)
        schemas.map(s => (hourOf(r), s.targetTable, bad.filter(col("on") === s.entity).count()))
      }
    }.sorted
    Map("tables" -> tables,
      "ingestor" -> ingestor.map(t => Seq(t._1, t._2, t._3)),
      "handler" -> handler.map(t => Seq(t._1, t._2, t._3, t._4)),
      "malformed" -> malformed.map(t => Seq(t._1, t._2, t._3)))
  }

  private def hasFiles(path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(!_.getPath.getName.startsWith("_"))
  }
}

object Etl {

  /** Column-name-sorted rendering shared with the model: null as \N,
    * timestamps as epoch micros, doubles as their IEEE bits, the
    * lineage path as its file name. */
  def canonical(r: Row): String =
    r.schema.fieldNames.sorted.map { name =>
      val v: Any = r.getAs[Any](name) match {
        case null => "\\N"
        case t: Timestamp =>
          val i = t.toInstant
          (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
        case d: Double => f"${java.lang.Double.doubleToRawLongBits(d)}%016x"
        case s: String if name == JsonLinesSource.lineageCol => s.substring(s.lastIndexOf('/') + 1)
        case other => other.toString
      }
      s"$name=$v"
    }.mkString("\u001f")

  /** First 8 bytes of the SHA-256 of the canonical row; summed over a
    * table (wrapping), it is a hash that ignores row order. */
  def rowHash(r: Row): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("SHA-256")
      .digest(canonical(r).getBytes("UTF-8"))).getLong
}
