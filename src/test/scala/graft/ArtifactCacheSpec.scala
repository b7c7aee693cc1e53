package graft

import graft.ext.similarity.{IvfKNN, PqKNN, SqKNN}
import graft.ext.text.{BpeTrainer, NgramLm, QualityClassifier}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every artifact kind [[ArtifactCache]] holds, driven through its
  * public `cached*` entry point over a small corpus written to a
  * directory. Shared by [[ArtifactCacheSpec]] and the child-JVM
  * [[ArtifactCacheStopCheck]]. */
object ArtifactKinds {

  /** `write` puts version `v` of the kind's input under `dir` (each
    * version holds different values); `cached` fetches the artifact
    * through the cache; `view` turns an artifact into a comparable
    * value; `fresh` is that value built without the cache. */
  final case class Kind(
      name: String,
      tables: Seq[String],
      cached: (SparkSession, String) => AnyRef,
      view: (SparkSession, AnyRef) => Any,
      fresh: (SparkSession, String) => Any)

  def write(spark: SparkSession, dir: String, v: Int, tables: Seq[String]): Unit = {
    import spark.implicits._
    def out(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    tables.foreach {
      case "documents" =>
        val prose = if (v == 0) "the and of to in is it a the and" else "of to in is it a of to in is"
        out((0L until 24L).map { i =>
          if (i % 2 == 0) (i, s"$prose w$v")
          else (i, s"zzz$i qqq${i + v} www$i xxx yyy$v")
        }.toDF("doc_id", "text"), "documents")
      case "embeddings" =>
        out((0L until 40L).map { i =>
          (i, Array.tabulate(64)(d => ((i * 31 + d * 7 + v * 13) % 97).toFloat / 97f * (1 + v) - 0.5f))
        }.toDF("vec_id", "embedding"), "embeddings")
      case "lineitem" =>
        out((0L until 20L + v).map(i => (i % 7, i.toDouble, 0.1)).toDF(
          "l_orderkey", "l_extendedprice", "l_discount"), "lineitem")
      case "orders" =>
        out((0L until 7L + v).map(i => (i, s"p$i")).toDF("o_orderkey", "o_orderpriority"), "orders")
    }
  }

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def docs(s: SparkSession, dir: String) = read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = read(s, dir, "embeddings")
  private def cents(cs: Seq[IvfKNN.Centroid]) = cs.map(c => (c.id, c.vec.toSeq))
  private def dcents(cs: Seq[IvfKNN.DCentroid]) = cs.map(c => (c.id, c.vec.toSeq))
  private def book(b: PqKNN.PqBook) = b.map(_.map(c => (c.code, c.sub.toSeq)))

  val all: Seq[Kind] = Seq(
    Kind("table handle", Seq("documents"),
      (s, dir) => Tables(s, dir, "documents"),
      (_, a) => rows(a.asInstanceOf[DataFrame]),
      (s, dir) => rows(docs(s, dir))),
    Kind("bucketed layout", Seq("lineitem", "orders"),
      (s, dir) => ScaleQueries.bucketedTables(s, dir),
      { (s, a) =>
        val (li, ord) = a.asInstanceOf[(String, String)]
        (rows(s.table(li)), rows(s.table(ord)))
      },
      (s, dir) => (rows(read(s, dir, "lineitem")), rows(read(s, dir, "orders")))),
    Kind("BPE tokenizer", Seq("documents"),
      (s, dir) => BpeTrainer.cachedTrain(docs(s, dir), "text", 3, dir),
      (_, a) => rows(a.asInstanceOf[(DataFrame, DataFrame)]._1),
      (s, dir) => rows(BpeTrainer.train(docs(s, dir), "text", 3)._1)),
    Kind("LM ref model", Seq("documents"),
      (s, dir) => NgramLm.cachedRefTrain(docs(s, dir), "doc_id", "text", 16L, dir),
      (_, a) => rows(a.asInstanceOf[DataFrame]),
      (s, dir) => rows(NgramLm.train(docs(s, dir).filter("doc_id < 16"), "doc_id", "text"))),
    Kind("quality-classifier weights", Seq("documents"),
      (s, dir) => QualityClassifier.cachedRefTrain(docs(s, dir), "doc_id", "text", 16L, 2, dir),
      (_, a) => a.asInstanceOf[Array[Long]].toSeq,
      (s, dir) => QualityClassifier.train(
        docs(s, dir).filter("doc_id < 16"), "doc_id", "text", 2).toSeq),
    Kind("IVF seed codebook", Seq("embeddings"),
      (s, dir) => IvfKNN.cachedSampledCentroids(emb(s, dir), "vec_id", "embedding", 4, dir),
      (_, a) => cents(a.asInstanceOf[Seq[IvfKNN.Centroid]]),
      (s, dir) => cents(IvfKNN.sampledCentroids(emb(s, dir), "vec_id", "embedding", 4))),
    Kind("IVF Lloyd codebook", Seq("embeddings"),
      (s, dir) => IvfKNN.cachedLloydTrain(emb(s, dir), "vec_id", "embedding", 4, 64, dir, 1),
      (_, a) => dcents(a.asInstanceOf[Seq[IvfKNN.DCentroid]]),
      (s, dir) => dcents(IvfKNN.lloydOnceExact(emb(s, dir), "embedding",
        IvfKNN.sampledCentroids(emb(s, dir), "vec_id", "embedding", 4), 64))),
    Kind("PQ book", Seq("embeddings"),
      (s, dir) => PqKNN.cachedSampledBook(emb(s, dir), "vec_id", "embedding", dir + "#pq"),
      (_, a) => book(a.asInstanceOf[PqKNN.PqBook]),
      (s, dir) => book(PqKNN.sampledBook(emb(s, dir), "vec_id", "embedding"))),
    Kind("SQ range", Seq("embeddings"),
      (s, dir) => SqKNN.cachedRange(emb(s, dir), "embedding", dir + "#sq"),
      (_, a) => a,
      (s, dir) => SqKNN.trainedRange(emb(s, dir), "embedding")))
}

/** Child-JVM half of the stop case (the shared test session must stay
  * up): per kind, build its entry in a fresh session, stop the
  * session, and print how many entries were held before and after. */
object ArtifactCacheStopCheck {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    ArtifactKinds.all.zipWithIndex.foreach { case (k, i) =>
      val s = SparkSession.builder().master("local[2]").appName("stop-check")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val dir = s"$root/$i"
      ArtifactKinds.write(s, dir, 0, k.tables)
      k.cached(s, dir)
      val held = ArtifactCache.size
      s.stop()
      println(s"stop-check ${k.name}: held=$held after=${ArtifactCache.size}")
    }
  }
}

/** One rule for every artifact kind: a hit returns the same object, an
  * in-place rewrite of the input rebuilds, the entry bound evicts, and
  * a stopped session's entries are gone. */
class ArtifactCacheSpec extends SparkSpec {

  private def corpus(k: ArtifactKinds.Kind): String = {
    val dir = tmpDir("artifact_cache")
    ArtifactKinds.write(spark, dir, 0, k.tables)
    dir
  }

  /** Stop-case report of the child JVM, run once for all kinds: same
    * classpath and JVM flags as this test JVM, smaller heap. */
  private lazy val stopReport: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        ArtifactCacheStopCheck.getClass.getName.stripSuffix("$"), tmpDir("artifact_stop"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    out.collect { case l if l.startsWith("stop-check ") =>
      val Array(name, counts) = l.stripPrefix("stop-check ").split(": ")
      name -> counts
    }.toMap
  }

  for (k <- ArtifactKinds.all) {
    test(s"${k.name}: a hit returns the same object") {
      val dir = corpus(k)
      assert(k.cached(spark, dir) eq k.cached(spark, dir))
    }

    test(s"${k.name}: rewriting the input in place rebuilds it") {
      val dir = corpus(k)
      val first = k.cached(spark, dir)
      val before = k.view(spark, first)
      ArtifactKinds.write(spark, dir, 1, k.tables)
      val rebuilt = k.cached(spark, dir)
      assert(!(rebuilt eq first), "a stale entry was served after the rewrite")
      val after = k.view(spark, rebuilt)
      assert(after != before, "the rewrite must change the artifact")
      assert(after == k.fresh(spark, dir))
    }

    test(s"${k.name}: the entry bound evicts it") {
      val dir = corpus(k)
      val first = k.cached(spark, dir)
      (0 until ArtifactCache.MaxEntries).foreach { i =>
        ArtifactCache(spark, "filler", s"${k.name}/$i", "mem")(new Object)
      }
      assert(ArtifactCache.size <= ArtifactCache.MaxEntries)
      assert(!(k.cached(spark, dir) eq first), "the oldest entry outlived the bound")
    }

    test(s"${k.name}: entries of a stopped session are gone") {
      val report = stopReport.getOrElse(k.name, fail(s"no stop-check line: $stopReport"))
      assert(report.matches("held=[1-9][0-9]* after=0"), report)
    }
  }
}
