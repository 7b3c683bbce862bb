package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Pipeline
import graft.core.api.{Sink, Source}
import graft.operators.{DedupClusters, NearDup, WordStats}
import graft.sinks.{CsvSink, ParquetSink}
import graft.sources.{ChunkedTextSource, ParquetSource, WholeTextSource}
import graft.streaming.Streams

/** One unit of work inside a pass (the pass itself, a query, a
  * tranche) with its wall time and what it reported. */
final case class Op(name: String, seconds: Double, fields: Map[String, Any] = Map.empty)

/** A workload: a pass is one closed-loop run from input to committed
  * result. Everything a pass writes goes under its own directory. */
trait Workload {
  /** Untimed preparation of a pass directory (staging inputs). */
  def prepare(spark: SparkSession, dir: String): Unit = ()
  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Op]
  /** Traced runs only: extra calls that split a layer the pass runs
    * fused. Their spans sit outside the passes; returns counts. */
  def probe(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = Map.empty
  /** Per-layer numbers the passes' ops carry, per pass. */
  def opLayers(passes: Seq[Seq[Op]]): Map[String, Double] = Map.empty
}

/** A sink that records a span around the wrapped sink's write. */
final case class TracedSink(tr: Tracer, name: String, inner: Sink) extends Sink {
  def write(df: DataFrame): Unit = tr.span(name)(inner.write(df))
}

/** A source that records a span around the wrapped source's load (the
  * driver-side listing and plan construction; the scan runs later). */
final case class TracedSource(tr: Tracer, name: String, inner: Source) extends Source {
  def load(spark: SparkSession): DataFrame = tr.span(name)(inner.load(spark))
}

object Workload {
  def apply(name: String, data: String, queries: Seq[String]): Workload = name match {
    case "etl_wordstats" => new EtlWordStats(data)
    case "dedup_corpus" => new DedupCorpus(s"$data/dedup")
    case "catalog_sf001" => new Catalog(data, queries)
    case "ingest_tranches" => new IngestTranches(s"$data/ingest")
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }
}

/** The paper's canonical pipeline: chunked text scan → per-file word
  * stats → fan-out to a CSV and a Parquet sink. `data` is the corpus
  * root; the pipeline reads its `etl` part. */
final class EtlWordStats(data: String) extends Workload {
  private val corpus = s"$data/etl"

  private def pipeline(tr: Tracer, dir: String) =
    Pipeline(TracedSource(tr, "sources.list", ChunkedTextSource(Seq(corpus))))
      .transform(WordStats.fromLines(_))
      .to(TracedSink(tr, "sinks.csv", CsvSink(s"$dir/csv")))
      .to(TracedSink(tr, "sinks.parquet", ParquetSink(s"$dir/parquet")))

  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] = {
    val (_, s) = Workload.timed(tr.span("core.pipeline.run")(pipeline(tr, dir).run(spark)))
    Seq(Op("pass", s))
  }

  override def probe(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = {
    val rows = tr.span("sources.scan")(ChunkedTextSource(Seq(corpus)).load(spark).count())
    tr.span("core.pipeline.plan")(pipeline(tr, dir).plan(spark).queryExecution.executedPlan)
    tr.span("operators.wordstats")(
      WordStats.fromLines(ChunkedTextSource(Seq(corpus)).load(spark))
        .write.format("noop").mode("overwrite").save())
    Map("sources.rows" -> rows.toDouble) ++ companions(spark, dir, tr)
  }

  /** One traced pass each of [[DedupCorpus]] and [[IngestTranches]] on
    * the same corpus root, so a traced run of this workload covers the
    * near-dup, cluster and streaming layers too. Outputs land under
    * `<dir>/dedup` and `<dir>/ingest` and are checked like passes. */
  private def companions(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = {
    val dedup = new DedupCorpus(s"$data/dedup")
    dedup.pass(spark, s"$dir/dedup", tr)
    val ingest = new IngestTranches(s"$data/ingest")
    ingest.prepare(spark, s"$dir/ingest")
    val ops = ingest.pass(spark, s"$dir/ingest", tr)
    dedup.probe(spark, s"$dir/dedup", tr) ++ ingest.opLayers(Seq(ops)) ++
      ingest.probe(spark, s"$dir/ingest", tr)
  }
}

/** Near-duplicate detection and cluster resolution over many small
  * docs: whole-file scan → banded MinHash pairs → connected components. */
final class DedupCorpus(corpus: String) extends Workload {
  private val source = WholeTextSource(Seq(corpus))

  /** (doc_id, text): the numeric id is the one in the file name. */
  private def withDocId(files: DataFrame): DataFrame = files.select(
    regexp_extract(col("file_path"), "doc_(\\d+)\\.txt", 1).cast("long").as("doc_id"),
    col("content").as("text"))

  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] = {
    val (_, s) = Workload.timed {
      tr.span("operators.neardup") {
        Pipeline(source)
          .transform(withDocId)
          .transform(NearDup.minHashPairsBanded(_))
          .to(TracedSink(tr, "sinks.parquet", ParquetSink(s"$dir/pairs")))
          .run(spark)
      }
      tr.span("operators.clusters") {
        Pipeline(ParquetSource(s"$dir/pairs"))
          .transform(DedupClusters.resolve(_))
          .to(TracedSink(tr, "sinks.parquet", ParquetSink(s"$dir/clusters")))
          .run(spark)
      }
    }
    Seq(Op("pass", s))
  }

  /** The three phases minHashPairsBanded fuses, each materialised on
    * its own: shingles (on the same doc-keyed seam), banded signature
    * candidates, exact-Jaccard confirmation. */
  override def probe(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = {
    val sh = NearDup.shingles(withDocId(source.load(spark)))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .cache()
    try {
      tr.span("operators.neardup.shingle")(sh.count())
      val cand = NearDup.minHashBandedCandidates(sh).cache()
      try {
        val candidates = tr.span("operators.neardup.signature")(cand.count())
        val confirmed = tr.span("operators.neardup.confirm")(NearDup.confirm(cand, sh).count())
        Map("operators.neardup.candidates" -> candidates.toDouble,
          "operators.neardup.confirmed" -> confirmed.toDouble)
      } finally cand.unpersist()
    } finally sh.unpersist()
  }
}

/** A fixed slice of the query catalog on the parquet fixtures, run in
  * the given order; each query is built, then collected. */
final class Catalog(fixtures: String, queries: Seq[String]) extends Workload {
  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] =
    queries.map { q =>
      val fn = SparkEntry.queries(q)
      tr.span(s"catalog.query.$q") {
        val (df, build) = Workload.timed(tr.span("catalog.build")(fn(spark, fixtures)))
        val (rows, exec) = Workload.timed(tr.span("catalog.exec")(df.collect()))
        Op(q, build + exec, Map("build_s" -> build, "exec_s" -> exec,
          "rows" -> rows.length, "hash" -> Catalog.resultHash(df, rows)))
      }
    }
}

object Catalog {
  /** Order-independent hash of a result: cells rendered canonically
    * (doubles to 10 significant digits, so summation order does not
    * show), columns by name, rows sorted. */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val cols = df.schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => cols.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.map(_._1).mkString(",").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
        .stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Incremental ingest: tranches land one at a time (an atomic rename
  * into the watched directories), and each is committed by the word
  * stats and near-dup streaming jobs before the next one lands. */
final class IngestTranches(data: String) extends Workload {
  private val tranches: Seq[String] =
    Files.list(Paths.get(data)).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("tranche_") && !n.endsWith(".parquet")).toSeq.sorted

  override def prepare(spark: SparkSession, dir: String): Unit = {
    val stage = Paths.get(dir, "stage")
    for (t <- tranches) {
      copyTree(Paths.get(data, t, "text"), stage.resolve(s"$t/text"))
      Files.createDirectories(stage.resolve(s"$t/docs"))
      Files.copy(Paths.get(data, s"$t.parquet"), stage.resolve(s"$t/docs/$t.parquet"))
    }
    Files.createDirectories(Paths.get(dir, "watch_text"))
    Files.createDirectories(Paths.get(dir, "watch_docs"))
  }

  def pass(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] = tranches.map { t =>
    tr.span("streaming.tranche") {
      val (progress, s) = Workload.timed {
        Files.move(Paths.get(dir, "stage", t, "text"), Paths.get(dir, "watch_text", t),
          StandardCopyOption.ATOMIC_MOVE)
        Files.move(Paths.get(dir, "stage", t, "docs", s"$t.parquet"),
          Paths.get(dir, "watch_docs", s"$t.parquet"), StandardCopyOption.ATOMIC_MOVE)
        val ws = tr.span("streaming.wordstats") {
          val q = Streams.ingestWordStats(spark, s"$dir/watch_text", s"$dir/wordstats",
            s"$dir/ckpt_wordstats")
          q.awaitTermination()
          q.recentProgress
        }
        val nd = tr.span("streaming.neardup") {
          val q = Streams.ingestNearDup(spark, s"$dir/watch_docs", s"$dir/state",
            s"$dir/pairs", s"$dir/ckpt_neardup")
          q.awaitTermination()
          q.recentProgress
        }
        (ws ++ nd).toSeq
      }
      def ms(keys: String*) = progress.map { p =>
        keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
      }.sum / 1e3
      Op(t, s, Map(
        "add_batch_s" -> ms("addBatch"),
        "planning_s" -> ms("queryPlanning"),
        "commit_s" -> ms("walCommit", "commitOffsets"),
        "batches" -> progress.count(_.numInputRows > 0)))
    }
  }

  override def opLayers(passes: Seq[Seq[Op]]): Map[String, Double] = {
    def perPass(key: String) =
      passes.flatten.map(_.fields(key).asInstanceOf[Double]).sum / math.max(passes.size, 1)
    Map("streaming.add_batch_s" -> perPass("add_batch_s"),
      "streaming.planning_s" -> perPass("planning_s"),
      "streaming.commit_s" -> perPass("commit_s"))
  }

  /** Rows of the near-dup signature store that each tranche reads as
    * prior state, averaged over the tranches of the given pass. */
  override def probe(spark: SparkSession, dir: String, tr: Tracer): Map[String, Double] = {
    val perBatch = spark.read.parquet(s"$dir/state/sigs").groupBy("batch_id").count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val prior = tranches.indices.map(b => perBatch.collect { case (id, n) if id < b => n }.sum)
    Map("streaming.prior_store_rows" -> prior.sum.toDouble / tranches.size)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator.asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }
}
