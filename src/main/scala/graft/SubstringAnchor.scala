package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The substring-granular dedup family (Lee et al. recast —
  * [[graft.operators.NearDup.dupNgramStats]] / `substringDedup`) at
  * real-text GB scale — the r16 verdict ask. NEARDUP4G anchors MinHash
  * banding, the df-cap, and pHash; the substring family's shuffle
  * volume is ∝ TOTAL CORPUS POSITIONS (every token position ships a
  * gram key through the repartition, the dup-set agg, the flagging
  * join, and the island window) — the heaviest per-byte shape in the
  * dedup family, and until this record its only scale evidence was
  * parquet fixtures + synthetic soaks.
  *
  * Corpus: the reference's own duplication recipe taken LITERALLY
  * (`/root/reference/example/generate_test_data.py:66-67` reaches its
  * 4 GB by `shutil.copy`ing the seed books) — plain byte-copies, NO
  * per-replica token markers. That choice is what buys ground truth by
  * construction: every replica of a book is a full-span duplicate of
  * every other, so for any doc of a ≥2-replica book
  *
  *   - EVERY gram occurs in ≥ 2 distinct docs ⇒ `dup_x1000 = 1000`
  *     and `max_dup_run = n_grams`, exactly (the detection truth);
  *   - under `substringDedup`'s keep-first contract, every doc that is
  *     NOT its book's minimum-id replica loses every token:
  *     `n_removed = n_tokens`, exactly (the rewrite truth). Canonical
  *     survivors keep > 0 tokens (cross-BOOK boilerplate — the
  *     Gutenberg licence — may still trim them; that too is the
  *     operator working as specified, and kept_tokens records it).
  *
  * (The markered ScaleAnchor corpus is the wrong instrument here: its
  * token suffixes make replicas gram-disjoint by design, which is what
  * the MinHash noise curve needs and exactly what span-duplication
  * truth must not have.)
  *
  * Measurements, one committed record (SUBSTR2G.json):
  *  1. detection curve over the size list (default 1 and 2 GB):
  *     positional-gram volume, dupNgramStats wall (gram pass + island
  *     window), and the planted-span truth — docs at exactly
  *     (dup_x1000 = 1000, max_dup_run = n_grams) out of all docs, as
  *     recall_milli. Wall and grams/MB must stay ~flat across the
  *     curve (linear in corpus positions).
  *  2. rewrite at the smallest size: substringDedup wall + the exact
  *     keep-first truth (non-canonical docs fully emptied), plus
  *     kept-token mass (≈ one replica's worth + licence-span trims).
  */
object SubstringAnchor {

  def main(args: Array[String]): Unit = {
    val sizesMb: Seq[Long] = sys.env.getOrElse(
      "SPARK_GRAFT_SUBSTR_SIZES_MB", "1024,2048")
      .split(",").map(_.trim.toLong).toSeq.sorted
    val outRoot = sys.env.getOrElse(
      "SPARK_GRAFT_SUBSTR_DIR", "target/scale4g/books_plain")

    // ---- plain-copy corpus (the reference's literal recipe) ---------
    val genT0 = System.nanoTime()
    val fullDir = java.nio.file.Paths.get(outRoot)
    val (bytes, nReplicas, nBooks) = generatePlain(fullDir, sizesMb.max << 20)
    val genSec = (System.nanoTime() - genT0) / 1e9
    val perReplica = bytes / nReplicas

    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    import graft.operators.NearDup

    /** One doc per file; book identity = name minus the replica tag
      * (the truth key); id = xxhash64(path) (collision odds ~10⁻¹²). */
    def docs(dir: java.nio.file.Path): DataFrame =
      graft.sources.WholeTextSource(Seq(dir.toString)).load(spark)
        .select(xxhash64(col("file_path")).as("doc_id"),
          col("content").as("text"),
          regexp_replace(element_at(split(col("file_path"), "/"), -1),
            "_p\\d{4}\\.txt$", "").as("book"))

    def replicasFor(sizeMb: Long): Int = math.min(nReplicas.toLong,
      math.max(2L, math.ceil((sizeMb << 20).toDouble / perReplica).toLong)).toInt
    // ALWAYS the hard-linked subset (the NearDupAnchor lesson: a
    // leftover larger-target corpus makes n == nReplicas lie)
    def dirFor(n: Int): java.nio.file.Path =
      ScaleAnchor.subsetDir(fullDir, n, tag = "_p")

    // untimed one-replica warmup absorbs JIT/codegen (anchor discipline)
    NearDup.dupNgramStats(docs(dirFor(2)).limit(4)).queryExecution.toRdd.count()

    // ---- 1. detection curve -----------------------------------------
    val curve = sizesMb.map { sizeMb =>
      val nRep = replicasFor(sizeMb)
      val d = docs(dirFor(nRep)).localCheckpoint()
      val nDocs = d.count()
      require(nDocs == nRep.toLong * nBooks,
        s"subset dir for $nRep replicas holds $nDocs docs, expected " +
          s"${nRep.toLong * nBooks} — stale/partial corpus or subset links")
      val nGramsTotal = NearDup.positionalNgrams(d).count()
      val t0 = System.nanoTime()
      val stats = NearDup.dupNgramStats(d).localCheckpoint()
      val nOut = stats.count()
      val statSec = (System.nanoTime() - t0) / 1e9
      // the planted truth: EVERY doc fully span-duplicated, exactly
      val exact = stats.where(col("dup_x1000") === 1000 &&
        col("max_dup_run") === col("n_grams") && col("n_grams") > 0).count()
      val recallMilli = if (nOut > 0) exact * 1000 / nOut else 0L
      val mb = nRep.toLong * perReplica / 1048576.0
      graft.core.IterCheckpoint.release(stats)
      graft.core.IterCheckpoint.release(d)
      System.err.println(f"[substr2g] ${mb}%.0f MB: $nDocs docs, " +
        f"$nGramsTotal grams, dupNgramStats ${statSec}%.1f s, " +
        f"full-span-exact $exact/$nOut")
      (mb, nRep, nDocs, nGramsTotal, statSec, exact, nOut, recallMilli)
    }
    // linearity: wall per MB and grams per MB, largest over smallest
    def growth(f: ((Double, Int, Long, Long, Double, Long, Long, Long)) => Double) = {
      val perMb = curve.map(c => f(c) / c._1)
      if (perMb.head > 0) perMb.last / perMb.head else 1.0
    }
    val wallGrowth = growth(_._5)
    val gramGrowth = growth(_._4.toDouble)

    // ---- 2. rewrite at the smallest size ----------------------------
    val rwRep = replicasFor(sizesMb.min)
    val rwDocs = docs(dirFor(rwRep)).localCheckpoint()
    val t1 = System.nanoTime()
    val rw = NearDup.substringDedup(rwDocs).localCheckpoint()
    val nRw = rw.count()
    val rwSec = (System.nanoTime() - t1) / 1e9
    // keep-first truth: a doc that is not its book's min-id replica
    // must come back fully emptied (n_removed == n_tokens)
    val minIds = rwDocs.groupBy(col("book"))
      .agg(min(col("doc_id")).as("canon_id"))
    val judged = rw.join(
      rwDocs.select(col("doc_id"), col("book")), "doc_id")
      .join(minIds, "book")
      .select(col("doc_id"), col("book"),
        (col("doc_id") === col("canon_id")).as("is_canon"),
        col("n_tokens"), col("n_removed"))
      .localCheckpoint()
    val nonCanon = judged.where(!col("is_canon")).count()
    val emptiedOk = judged.where(!col("is_canon") &&
      col("n_removed") === col("n_tokens")).count()
    val canonKept = judged.where(col("is_canon") &&
      col("n_tokens") - col("n_removed") > 0).count()
    val keptTokens = rw.agg(
      sum(col("n_tokens") - col("n_removed")).cast("long")).head().getLong(0)
    val totalTokens = rw.agg(sum(col("n_tokens")).cast("long")).head().getLong(0)
    val emptiedMilli = if (nonCanon > 0) emptiedOk * 1000 / nonCanon else 0L
    graft.core.IterCheckpoint.release(judged)
    graft.core.IterCheckpoint.release(rw)
    graft.core.IterCheckpoint.release(rwDocs)
    System.err.println(f"[substr2g] rewrite ${rwSec}%.1f s: " +
      f"$emptiedOk/$nonCanon non-canonical emptied, " +
      f"$canonKept canonical kept text, $keptTokens/$totalTokens tokens kept")

    // ---- record ------------------------------------------------------
    val curveJson = curve.map {
      case (mb, nRep, nDocs, grams, sec, exact, out, recall) =>
        f"""{"mb":$mb%.1f,"replicas":$nRep,"docs":$nDocs,"grams":$grams,"dup_stats_sec":$sec%.2f,"full_span_exact":$exact,"docs_out":$out,"span_recall_milli":$recall}"""
    }.mkString("[", ",", "]")
    val full =
      f"""{"metric":"substr2g","bytes":$bytes,"gen_sec":$genSec%.1f,"detection_curve":$curveJson,"wall_per_mb_growth_max_over_min":$wallGrowth%.2f,"grams_per_mb_growth_max_over_min":$gramGrowth%.2f,"rewrite":{"mb":${curve.head._1}%.1f,"sec":$rwSec%.2f,"docs":$nRw,"non_canonical":$nonCanon,"emptied_exact":$emptiedOk,"emptied_milli":$emptiedMilli,"canonical_kept_text":$canonKept,"kept_tokens":$keptTokens,"total_tokens":$totalTokens},"cpus":${LocalSession.cpus}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SUBSTR2G.json"), full)
    catch { case _: Throwable => () }
    println(
      f"""{"metric":"substr2g","mb":${curve.last._1}%.1f,"grams":${curve.last._4},"dup_stats_sec":${curve.last._5}%.2f,"span_recall_milli":${curve.last._8},"wall_per_mb_growth":$wallGrowth%.2f,"rewrite_emptied_milli":$emptiedMilli,"full":"SUBSTR2G.json"}""")
    spark.stop()
  }

  /** Plain-copy corpus: replica r of each seed book is a byte-identical
    * copy named `<book>_p<r>%04d.txt` — `shutil.copy` in spirit, with
    * the same interruption-safety discipline as [[ScaleAnchor.generate]]
    * (write-to-temp + ATOMIC_MOVE; replica sizes validated against
    * replica 0's, since identical bytes ⇒ identical sizes). */
  private[graft] def generatePlain(
      outDir: java.nio.file.Path, targetBytes: Long): (Long, Int, Int) = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.createDirectories(outDir)
    val books = java.nio.file.Files.list(
        java.nio.file.Paths.get(ScaleAnchor.BooksDir))
      .iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".txt")).sortBy(_.toString)
    require(books.nonEmpty, s"no .txt books under ${ScaleAnchor.BooksDir}")
    val perReplica = books.map(java.nio.file.Files.size).sum
    val nReplicas = math.max(2, math.ceil(targetBytes.toDouble / perReplica).toInt)
    var total = 0L
    (0 until nReplicas).foreach { r =>
      books.foreach { p =>
        val name = p.getFileName.toString.stripSuffix(".txt")
        val f = outDir.resolve(f"${name}_p$r%04d.txt")
        if (!java.nio.file.Files.exists(f)) {
          val tmp = outDir.resolve(f".${name}_p$r%04d.txt.tmp")
          java.nio.file.Files.copy(p, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.move(tmp, f,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        val sz = java.nio.file.Files.size(f)
        total += sz
      }
    }
    require(total == perReplica * nReplicas,
      s"plain corpus is $total bytes, expected ${perReplica * nReplicas} — " +
        s"stale or truncated files under $outDir; delete the dir AND its " +
        "sibling *_firstN subset dirs (their hard links pin old inodes) " +
        "and rerun")
    (total, nReplicas, books.size)
  }
}
