package graft

import org.apache.spark.sql.functions._

/** The reference's OWN published scale, reproduced: a ~4 GB corpus
  * built by duplicating the sample books
  * (`/root/reference/example/generate_test_data.py:66-67` targets
  * 4 × 1,024 MB by copying the seed corpus), run through the canonical
  * word-stats pipeline, measured in MB/s against the reference's one
  * published rate — 0.00050067901 s/KB ≈ 1.95 MB/s on its calibrated
  * 8-CPU host (`example/main.py:207,219-221`; BASELINE.md). Every
  * BENCH comparison so far extrapolates from sf0.1 (~1.4 MB); this
  * main is the apples-to-apples run at the scale the reference itself
  * documents.
  *
  * Corpus generation differs from the reference's `shutil.copy` in one
  * deliberate way: every whitespace token gets a per-replica marker
  * suffix (`_r0042`), the Soak.scala discipline. The canonical dedup
  * is keyed per (file, word_norm), so plain copies would already do
  * honest N× work — but marker suffixes additionally make every
  * replica's vocabulary disjoint, so no cross-file result could
  * collapse even if an operator dropped the file key, and the output
  * size itself certifies per-replica work. The replica index is
  * zero-padded so every replica is byte-identical in size and the
  * corpus size is exactly replicas × one measured replica.
  *
  * The timed pipeline is the 100 TB shape: [[graft.sources.ChunkedTextSource]]
  * (splittable TextInputFormat scan with byte offsets — no task ever
  * holds a whole file) feeding [[graft.operators.WordStats.fromLines]].
  * After the timed reps, the golden `dedup_audit` invariant
  * (`/root/reference/example/readme.md:68`: first-seen dedup leaves no
  * duplicate (file, word_norm)) is asserted at full scale.
  *
  * Emits ONE JSON line (compact — the harness tail window) and writes
  * the full record to SCALE4G.json.
  */
object ScaleAnchor {

  val BooksDir = "/root/reference/example/sample_data/books"

  /** Suffix every whitespace token of `line` with `marker` — a manual
    * scan, not a regex (this runs over the whole generated corpus). */
  private def suffixTokens(line: String, marker: String): String = {
    val sb = new java.lang.StringBuilder(line.length * 2)
    var i = 0
    var inTok = false
    while (i < line.length) {
      val c = line.charAt(i)
      val ws = Character.isWhitespace(c)
      if (inTok && ws) { sb.append(marker); inTok = false }
      if (!ws) inTok = true
      sb.append(c)
      i += 1
    }
    if (inTok) sb.append(marker)
    sb.toString
  }

  private[graft] def generate(outDir: java.nio.file.Path, targetBytes: Long): (Long, Int, Int) = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.createDirectories(outDir)
    val books = java.nio.file.Files.list(java.nio.file.Paths.get(BooksDir))
      .iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".txt")).sortBy(_.toString)
    require(books.nonEmpty, s"no .txt books under $BooksDir")
    // read each book ONCE into memory (13 MB total), pre-split to lines
    val bookLines: Seq[(String, Array[String])] = books.map { p =>
      val name = p.getFileName.toString.stripSuffix(".txt")
      val text = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      (name, text.split("\n", -1))
    }
    def writeReplica(r: Int): Long = {
      val marker = f"_r$r%04d"
      var bytes = 0L
      bookLines.foreach { case (name, lines) =>
        val f = outDir.resolve(s"${name}$marker.txt")
        // write-to-temp + atomic rename: a run interrupted mid-write
        // must never leave a truncated replica that a later run's
        // exists() check silently reuses (corrupting the corpus bytes
        // AND the replica sizing, since replica 0 sizes them all)
        if (!java.nio.file.Files.exists(f)) {
          val tmp = outDir.resolve(s".${name}$marker.txt.tmp")
          val w = java.nio.file.Files.newBufferedWriter(tmp,
            java.nio.charset.StandardCharsets.UTF_8)
          try lines.foreach { ln => w.write(suffixTokens(ln, marker)); w.write("\n") }
          finally w.close()
          java.nio.file.Files.move(tmp, f,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        bytes += java.nio.file.Files.size(f)
      }
      bytes
    }
    // one replica sizes them all (fixed-width marker ⇒ identical bytes)
    val perReplica = writeReplica(0)
    val nReplicas = math.max(1, math.ceil(targetBytes.toDouble / perReplica).toInt)
    // parallel generation: pure CPU (token scan) + sequential writes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futs = (1 until nReplicas).map { r =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = writeReplica(r)
        })
      }
      // every replica must be byte-identical in size to replica 0 (the
      // fixed-width marker guarantees it) — a mismatch means a stale
      // truncated file from an interrupted pre-atomic-rename run
      // survives on disk; fail loudly rather than anchor on a corrupt
      // corpus
      val sizes = futs.map(_.get())
      sizes.zipWithIndex.find(_._1 != perReplica).foreach { case (b, i) =>
        throw new IllegalStateException(
          s"replica ${i + 1} is $b bytes, expected $perReplica — stale or " +
            s"truncated replica files under $outDir; delete the dir AND " +
            "its sibling *_firstN subset dirs (their hard links pin old " +
            "inodes) and rerun")
      }
      val total = perReplica + sizes.sum
      (total, nReplicas, books.size)
    } finally pool.shutdown()
  }

  /** A hard-linked subset directory holding replicas 0..(n-1) of the
    * generated corpus — how one generated 4 GB corpus serves every
    * point of the size curve without re-suffixing a byte. Idempotent;
    * links cost no disk. `tag` is the replica-index prefix in file
    * names — "_r" for this generator, "_p" for
    * [[SubstringAnchor.generatePlain]]'s plain copies. */
  private[graft] def subsetDir(
      full: java.nio.file.Path, n: Int, tag: String = "_r"): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val sub = full.resolveSibling(s"${full.getFileName}_first$n")
    java.nio.file.Files.createDirectories(sub)
    val ls = java.nio.file.Files.list(full)
    val wanted =
      try ls.iterator().asScala.toSeq.filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".txt") && {
          val i = name.lastIndexOf(tag)
          val d = i + tag.length
          i >= 0 && name.slice(d, d + 4).forall(_.isDigit) &&
            name.slice(d, d + 4).nonEmpty && name.slice(d, d + 4).toInt < n
        }
      } finally ls.close()
    wanted.foreach { p =>
      val link = sub.resolve(p.getFileName)
      // a pre-existing link is only valid if it still points at the
      // CURRENT corpus file's inode: generate() replaces files via
      // ATOMIC_MOVE (new inode), so after a regeneration a leftover
      // subset link silently retains the OLD (possibly truncated)
      // bytes — exactly the stale-corpus failure the size assertion
      // exists to catch. Relink on inode mismatch.
      if (java.nio.file.Files.exists(link) &&
          !java.nio.file.Files.isSameFile(link, p))
        java.nio.file.Files.delete(link)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createLink(link, p)
    }
    sub
  }

  def main(args: Array[String]): Unit = {
    // the size CURVE (the r15 verdict ask): one measured point is a
    // point, not a scaling claim — run the pipeline at each size and
    // record MB/s per size; flat throughput = true scan-bound scaling
    val sizesMb: Seq[Long] = sys.env.getOrElse(
      "SPARK_GRAFT_SCALE_SIZES_MB",
      sys.env.getOrElse("SPARK_GRAFT_SCALE_MB", "1024,2048,4096"))
      .split(",").map(_.trim.toLong).toSeq.sorted
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale4g/books")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt)

    val genT0 = System.nanoTime()
    val fullDir = java.nio.file.Paths.get(outRoot)
    val (bytes, nReplicas, nBooks) = generate(fullDir, sizesMb.max << 20)
    val genSec = (System.nanoTime() - genT0) / 1e9
    val perReplica = bytes / nReplicas

    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    def pipeline(dir: String) = graft.operators.WordStats.fromLines(
      graft.sources.ChunkedTextSource(Seq(dir)).load(spark))

    // untimed warmup on ONE replica's worth absorbs JVM/codegen cost
    Bench.materialize(graft.operators.WordStats.fromLines(
      graft.sources.ChunkedTextSource(Seq(outRoot), glob = "*_r0000.txt")
        .load(spark)))

    final case class Point(mb: Double, replicas: Int, wall: Double,
        rows: Long, mbPerSec: Double)
    val points = sizesMb.map { sizeMb =>
      val nWant = math.min(nReplicas.toLong,
        math.max(1L, math.ceil((sizeMb << 20).toDouble / perReplica).toLong)).toInt
      // always the hard-linked subset: the corpus dir may hold replicas
      // from an earlier larger-target run (generate() only adds files),
      // so "nWant == this run's nReplicas" does not imply the dir holds
      // exactly nWant replicas
      val dir = subsetDir(fullDir, nWant)
      val sizeBytes = nWant.toLong * perReplica
      var best = Double.MaxValue
      var rows = 0L
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        rows = Bench.materialize(pipeline(dir.toString))
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
      }
      val mb = sizeBytes / 1048576.0
      Point(mb, nWant, best, rows, mb / best)
    }
    val top = points.last // the headline: the largest (reference-scale) size

    // golden invariant at full scale: first-seen dedup leaves no
    // duplicate (file, word_norm) — 0 rows, the reference's own audit
    val auditT0 = System.nanoTime()
    val audit = pipeline(subsetDir(fullDir, nReplicas).toString)
      .groupBy(col("file_path"),
        graft.functions.Scalars.wordNorm(col("word")).as("word_norm"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .count()
    val auditSec = (System.nanoTime() - auditT0) / 1e9

    // the reference's model rate on THIS host: t/KB = C · (8/n_cpu) ·
    // (1 + (1 − n_cpu/cpus_total)), n_cpu = 90% of cores
    // (example/main.py:54,198,207) — the honest comparison point; the
    // flat 1.95 MB/s is the published 8-CPU figure.
    val nCpu = math.max(1, (LocalSession.cpus * 0.9).toInt)
    val modelSecPerKb = 0.00050067901 * (8.0 / nCpu) *
      (1.0 + (1.0 - nCpu.toDouble / LocalSession.cpus))
    val modelMbPerSec = 1.0 / (modelSecPerKb * 1024)

    val curve = points.map(p =>
      f"""{"mb":${p.mb}%.1f,"replicas":${p.replicas},"wall_sec":${p.wall}%.2f,"rows":${p.rows},"mb_per_sec":${p.mbPerSec}%.2f}""")
      .mkString("[", ",", "]")
    // flatness of the curve: max/min MB/s across sizes (1.0 = perfectly
    // scan-bound; the verdict's bar is ±15% ⇒ ≤ ~1.35 max/min)
    val flat = points.map(_.mbPerSec).max / points.map(_.mbPerSec).min
    val line =
      f"""{"metric":"scale4g_wordstats_mb_per_sec","value":${top.mbPerSec}%.2f,"unit":"MB/s","bytes":$bytes,"mb":${top.mb}%.1f,"files":${nReplicas * nBooks},"replicas":$nReplicas,"gen_sec":$genSec%.1f,"wall_sec":${top.wall}%.2f,"reps":$reps,"rows":${top.rows},"dedup_audit_rows":$audit,"audit_sec":$auditSec%.2f,"curve":$curve,"curve_flat_max_over_min":$flat%.2f,"baseline_published_mb_per_sec":1.95,"baseline_model_mb_per_sec":$modelMbPerSec%.2f,"x_published":${top.mbPerSec / 1.95}%.1f,"x_model":${top.mbPerSec / modelMbPerSec}%.1f,"cpus":${LocalSession.cpus}}"""
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALE4G.json"), line)
    catch { case _: Throwable => () }
    spark.stop()
    if (audit != 0) sys.exit(1)
  }
}
