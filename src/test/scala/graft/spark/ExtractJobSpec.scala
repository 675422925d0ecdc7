package graft.spark

import graft.SparkSuite
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.html.BoilerplateStripper

class ExtractJobSpec extends AnyFunSuite with SparkSuite {

  test("html stripper keeps article, drops nav/footer") {
    val html =
      """<html><body>
        |<nav><a href="/">Home</a> <a href="/x">X</a></nav>
        |<article><h2>Real Title</h2>
        |<p>This is the main content of the article and it is long enough to be kept by the density rules.</p>
        |</article>
        |<footer><a href="/terms">Terms</a> | © 2025</footer>
        |</body></html>""".stripMargin
    val out = BoilerplateStripper.strip(html)
    assert(out.contains("main content of the article"), s"got: $out")
    assert(out.contains("Real Title"))
    assert(!out.contains("Home"))
    assert(!out.contains("Terms"))
  }

  test("xref-killed payloads recover byte-identical text via reconstruction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pages = PagesGen.generate(spark, 40, seed = 42L, parallelism = 4).toDF()
      .filter(col("url").endsWith(".pdf"))
    val corrupted = pages.select(col("url"), col("html")).as[(String, Array[Byte])]
      .map { case (u, b) => (u, PagesGen.killXref(b)) }.toDF("url", "html")
    // sanity: corruption really removes the startxref anchor
    val sample = corrupted.as[(String, Array[Byte])].head()._2
    assert(!new String(sample, "ISO-8859-1").contains("startxref"))
    val intact = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select(col("url"), col("text").as("t1"))
    val rec = ExtractJob.extract(corrupted, ExtractJob.Config(salt = false))
      .select(col("url"), col("text").as("t2"), col("status"))
    val joined = intact.join(rec, "url").collect()
    assert(joined.length >= 20, s"expected mostly-PDF corpus, got ${joined.length}")
    joined.foreach { r =>
      assert(r.getAs[String]("status") == "ok", s"${r.getAs[String]("url")} not ok")
      assert(r.getAs[String]("t1") == r.getAs[String]("t2"),
        s"${r.getAs[String]("url")} text diverged after xref kill")
    }
  }

  test("extract over synthetic pages: 100% non-failing rows") {
    val pages = PagesGen.generate(spark, 60, seed = 42, parallelism = 4).toDF()
    val out = ExtractJob.extract(pages, ExtractJob.Config(salt = false)).cache()
    val n = out.count()
    assert(n == 60)
    val statuses = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("ok", 0L) == 60L, s"statuses: $statuses")
    // every ok row has text
    assert(out.filter("status = 'ok' and length(text) = 0").count() == 0)
    out.unpersist()
  }

  test("extraction is deterministic") {
    val pages = PagesGen.generate(spark, 30, seed = 7, parallelism = 2).toDF()
    val a = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.values.forall(_.nonEmpty))
  }

  test("salted routing spreads heavy rows and preserves results") {
    val pages = PagesGen.generate(spark, 50, seed = 42, parallelism = 2).toDF()
    val unsalted = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val salted = ExtractJob.extract(pages,
        ExtractJob.Config(salt = true, heavyThresholdBytes = 10 * 1024))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(salted == unsalted)
  }

  test("payload-dedup path: per-url output identical to plain extract on a duplicated corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20 distinct payloads seen under 3 urls each (interleaved url
    // ordering so reps aren't trivially the first partition's rows)
    val base = PagesGen.generate(spark, 20, seed = 42, parallelism = 2).toDF()
    val dup = base.withColumn("url", concat(lit("dup1-"), col("url")))
      .unionAll(base.withColumn("url", concat(lit("zzz-"), col("url"))))
      .unionAll(base)
    val stable = Seq("url", "text", "markdown", "html", "title",
      "n_pages", "n_spans", "status", "error_msg", "n_bytes")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(stable.map(col): _*).collect().map(_.mkString("\u0000")).toSet
    val plain = rows(ExtractJob.extract(dup, ExtractJob.Config(salt = false)).toDF())
    val deduped = rows(ExtractJob.extractDeduped(dup, ExtractJob.Config(salt = false)).toDF())
    assert(plain.size == 60 && deduped == plain,
      s"sizes plain=${plain.size} deduped=${deduped.size}")
    // extraction really ran ONCE per distinct payload: all three urls of
    // a payload inherit the rep's duration_ms bit-exactly (three
    // independent extractions would virtually never tie on nanotime)
    val perPayload = ExtractJob.extractDeduped(dup, ExtractJob.Config(salt = false))
      .toDF().groupBy(col("text"))
      .agg(countDistinct(col("duration_ms")).as("nd"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(perPayload.length == 20 && perPayload.forall(_ == ((1L, 3L))),
      perPayload.mkString(","))
  }

  test("oversize rows are skipped not failed") {
    import spark.implicits._
    val big = PageRow("https://h.example/big.pdf",
      new java.sql.Timestamp(0), new Array[Byte](2 * 1024 * 1024), "", "en")
    val pages = spark.createDataset(Seq(big)).toDF()
    val out = ExtractJob.extract(pages,
      ExtractJob.Config(salt = false, oversizeCapBytes = 1024 * 1024)).collect()
    assert(out.length == 1)
    assert(out(0).status == "skipped_oversize")
  }

  test("Config.password flows to the extractor: locked PDF ok with password, error row without") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.pdf.cos.PdfObj
    import graft.pdf.cos.PdfObj._
    import graft.pdf.crypto.StdSecurityHandler
    import graft.pdf.testgen.PdfBuilder
    // user-password-protected fixture (same construction as EncryptionSpec)
    val fileId = (0 until 16).map(i => (i * 17 + 3).toByte).toArray
    val idHex = fileId.map(b => f"${b & 0xff}%02X").mkString
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    val edNoO = Dict(Map("Filter" -> Name("Standard"), "V" -> Int64(2), "R" -> Int64(3),
      "Length" -> Int64(128), "P" -> Int64(-3904L),
      "O" -> Str((0 until 32).map(i => (i * 7 + 1).toByte).toArray)))
    val oBytes = new StdSecurityHandler(edNoO, fileId).computeO(
      "own".getBytes(ISO_8859_1), "sesame".getBytes(ISO_8859_1))
    val ed = Dict(edNoO.entries ++ Map[String, PdfObj]("O" -> Str(oBytes)))
    val h = new StdSecurityHandler(ed, fileId, "sesame".getBytes(ISO_8859_1))
    val b = new PdfBuilder()
    val catId = b.reserveId(); val pagesId = b.reserveId()
    val f = b.addObject("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    val contentId = b.reserveId()
    val content = "BT /F1 12 Tf 100 700 Td (job level secret) Tj ET".getBytes(ISO_8859_1)
    b.addStreamAt(contentId, "", h.encrypt(content, contentId, 0), flate = false)
    val pageId = b.addObject(s"<< /Type /Page /Parent $pagesId 0 R /MediaBox [0 0 612 792] " +
      s"/Resources << /Font << /F1 $f 0 R >> >> /Contents $contentId 0 R >>")
    b.addObjectAt(pagesId, s"<< /Type /Pages /Kids [$pageId 0 R] /Count 1 >>")
    b.addObjectAt(catId, s"<< /Type /Catalog /Pages $pagesId 0 R >>")
    val uHex = hx(h.computeU().take(32).padTo(32, 0.toByte))
    val encId = b.addObject(s"<< /Filter /Standard /V 2 /R 3 /Length 128 " +
      s"/P -3904 /O <${hx(oBytes)}> /U <$uHex> >>")
    val pdf = b.build(catId, s"/Encrypt $encId 0 R /ID [<$idHex> <$idHex>] ")

    val pages = spark.createDataset(Seq(PageRow("https://h.example/locked.pdf",
      new java.sql.Timestamp(0), pdf, "", "en"))).toDF()
    val ok = ExtractJob.extract(pages,
      ExtractJob.Config(salt = false, password = "sesame")).collect()
    assert(ok.length == 1 && ok(0).status == "ok" && ok(0).text == "job level secret", ok.mkString)
    val err = ExtractJob.extract(pages, ExtractJob.Config(salt = false)).collect()
    assert(err(0).status == "error" && err(0).error_msg.contains("password"), err.mkString)
  }

  test("checkpoint resume: second run processes nothing; kill-resume completes the set") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 40, seed = 11, parallelism = 2).toDF().cache()

    // simulate a partial (killed) first run: only 25 rows got through
    val partial = pages.limit(25)
    val r1 = ExtractJob.runWithCheckpoint(spark, partial, outDir, ckptDir, "run-1",
      ExtractJob.Config(salt = false))
    assert(r1.attempted == 25)

    // resumed run over the full input: only the remaining 15 processed
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false))
    assert(r2.attempted == 15, s"expected 15 pending, got ${r2.attempted}")

    // third run: idempotent no-op
    val r3 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-3",
      ExtractJob.Config(salt = false))
    assert(r3.attempted == 0)

    // output complete + unique by url
    val written = spark.read.parquet(outDir)
    assert(written.select("url").distinct().count() == 40)
    assert(written.count() == 40)
    pages.unpersist()
  }

  test("commit protocol: kill between checkpoint and publish leaves no duplicates and no loss") {
    val dir = Files.createTempDirectory("graft-ckpt-crash").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 30, seed = 12, parallelism = 2).toDF().cache()

    // run 1 dies AFTER the checkpoint append, BEFORE the publish rename
    // (the round-2 duplicate window, now on the other side of the
    // checkpoint write)
    intercept[RuntimeException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 32,
        ExtractJob.FailPoints(afterCheckpoint = true))
    }
    // the interrupted attempt is checkpointed but unpublished: readers
    // see nothing yet, and nothing is duplicated
    assert(!new java.io.File(outDir).exists() ||
      spark.read.parquet(outDir).count() == 0)

    // the crashed committer's lock file is left behind (process death)
    assert(new java.io.File(s"$ckptDir.commitlock").exists())

    // run 2: the stale lock is broken (ttl 0 = restart-after-crash) and
    // heal() publishes the staged attempt instead of re-extracting
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false, lockTtlMs = 0))
    assert(r2.attempted == 0, s"heal should have published, not re-extracted: $r2")
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 30, "no loss")
    assert(out.select("url").distinct().count() == 30, "no duplicates without reader-side dedup")
    pages.unpersist()
  }

  test("commit protocol: kill between stage and checkpoint re-extracts cleanly (no duplicates)") {
    val dir = Files.createTempDirectory("graft-ckpt-crash2").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 20, seed = 13, parallelism = 2).toDF().cache()

    intercept[RuntimeException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 32,
        ExtractJob.FailPoints(afterStage = true))
    }
    // staged output exists but was never checkpointed → invisible
    assert(new java.io.File(s"$outDir.staging").exists())
    assert(!new java.io.File(outDir).exists() ||
      spark.read.parquet(outDir).count() == 0)

    // run 2 GCs the orphan staging and re-extracts everything, once
    // (ttl 0 = restart-after-crash: the orphan is instantly past the
    // heal GC's TTL gate; at the default TTL a fresh unrecorded dir is
    // presumed to belong to a live concurrent committer and kept)
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false, lockTtlMs = 0))
    assert(r2.attempted == 20, r2.toString)
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 20 && out.select("url").distinct().count() == 20)
    // orphan staging was GC'd
    val staging = new java.io.File(s"$outDir.staging")
    assert(!staging.exists() || staging.listFiles().isEmpty, staging.listFiles().mkString(","))
    pages.unpersist()
  }

  test("commit protocol: rename returning false fails the run; heal publishes") {
    val dir = Files.createTempDirectory("graft-ckpt-rnf").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 20, seed = 14, parallelism = 2).toDF().cache()
    // transient FS refusal at publish: the run FAILS (surviving
    // process), checkpoint + staging remain, lock is released
    intercept[java.io.IOException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 32,
        ExtractJob.FailPoints(renameFalse = true))
    }
    assert(!new java.io.File(s"$ckptDir.commitlock").exists(),
      "a surviving failure must release the commit lock")
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false))
    assert(r2.attempted == 0, s"heal should publish, not re-extract: $r2")
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 20 && out.select("url").distinct().count() == 20)
    pages.unpersist()
  }

  test("heal replaces partial-rename debris from staging (no silent loss)") {
    val dir = Files.createTempDirectory("graft-ckpt-partial").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 20, seed = 15, parallelism = 2).toDF().cache()
    intercept[RuntimeException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 32,
        ExtractJob.FailPoints(afterCheckpoint = true))
    }
    // simulate a non-atomic copy-based rename dying midway: dst exists
    // with ONE bucket dir copied, src (staging) still complete
    val attempt = spark.read.parquet(ckptDir).select("attempt").head().getString(0)
    val src = new java.io.File(s"$outDir.staging/$attempt")
    val dst = new java.io.File(s"$outDir/run=$attempt")
    val firstBucket = src.listFiles().filter(_.getName.startsWith("bucket=")).head
    val dstBucket = new java.io.File(dst, firstBucket.getName)
    assert(dstBucket.mkdirs())
    firstBucket.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(dstBucket, f.getName).toPath)
    }
    // run 2: the old `!dst.exists` heal would have trusted the partial
    // dst as committed and GC'd nothing; the new heal replaces it
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false, lockTtlMs = 0))
    assert(r2.attempted == 0, r2.toString)
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 20, "partial dst must be replaced, not trusted")
    assert(out.select("url").distinct().count() == 20)
    pages.unpersist()
  }

  test("a staged and a published run hold only bucket directories; no kind= directory anywhere") {
    val dir = Files.createTempDirectory("graft-ckpt-layout").toString
    val outDir = s"$dir/extracted"
    val root = new java.io.File(s"$outDir.staging")
    val pages = PagesGen.generate(spark, 20, seed = 25, parallelism = 2).toDF()
    def tree(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)
    // the staging tree, seen between the stage write and the commit
    var staged = Seq.empty[java.io.File]
    assert(ExtractJob.runWithCheckpoint(spark, pages, outDir, s"$dir/checkpoint", "run-1",
      ExtractJob.Config(salt = false), 4, ExtractJob.FailPoints(beforeLock = () => staged = tree(root)))
      .attempted == 20)
    val attempts = staged.filter(_.getParentFile == root)
    assert(attempts.length == 1, attempts.mkString(","))
    val stagedChildren = staged.filter(_.getParentFile == attempts.head).map(_.getName)
    assert(stagedChildren.contains("bucket=__HIVE_DEFAULT_PARTITION__") &&
      stagedChildren.forall(_.startsWith("bucket=")), stagedChildren.mkString(","))
    val runs = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("run="))
    assert(runs.map(_.getName).toSeq == Seq(s"run=${attempts.head.getName}"), runs.mkString(","))
    val published = runs.head.listFiles()
    assert(published.nonEmpty && published.forall(c => c.isDirectory && c.getName.matches("bucket=\\d+")),
      published.mkString(","))
    val kinds = (staged ++ tree(new java.io.File(dir))).filter(_.getName.startsWith("kind="))
    assert(kinds.isEmpty, kinds.mkString(","))
  }

  test("heal fails loudly on a recorded attempt of the older kind= staging layout; nothing is published") {
    val dir = Files.createTempDirectory("graft-ckpt-oldlayout").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 20, seed = 26, parallelism = 2).toDF()
    intercept[RuntimeException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 4, ExtractJob.FailPoints(afterCheckpoint = true))
    }
    // a recorded, unpublished attempt as a crash of the older layout left
    // it: its output one `kind=out` level down
    val attempt = spark.read.parquet(ckptDir).select("attempt").head().getString(0)
    val staged = new java.io.File(s"$outDir.staging/$attempt")
    val kindOut = new java.io.File(staged, "kind=out")
    assert(kindOut.mkdir())
    staged.listFiles().filter(_.getName.startsWith("bucket=")).foreach { b =>
      java.nio.file.Files.move(b.toPath, new java.io.File(kindOut, b.getName).toPath)
    }
    val e = intercept[java.io.IOException] {
      ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config(lockTtlMs = 0))
    }
    assert(e.getMessage.contains(staged.getName) && e.getMessage.contains("kind=out"), e.getMessage)
    val published = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
    assert(published.isEmpty, published.mkString(","))
    assert(kindOut.isDirectory, "the staged attempt is left as it was")
  }

  test("heal keeps a published run whose staging the older layout left holding only _SUCCESS") {
    val dir = Files.createTempDirectory("graft-ckpt-oldpublished").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 20, seed = 27, parallelism = 2).toDF()
    assert(ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
      ExtractJob.Config(salt = false), 4).attempted == 20)
    // the older layout's crash between its publish rename and dropping
    // the staged attempt: recorded, published, staging holds `_SUCCESS`
    val attempt = spark.read.parquet(ckptDir).select("attempt").head().getString(0)
    val staged = new java.io.File(s"$outDir.staging/$attempt")
    assert(staged.mkdirs() && new java.io.File(staged, "_SUCCESS").createNewFile())
    val dst = new java.io.File(s"$outDir/run=$attempt")
    val aside = new java.io.File(s"$dir/aside")
    // without its published run the attempt's output is lost: fail loudly
    assert(dst.renameTo(aside))
    val e = intercept[java.io.IOException] {
      ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config(lockTtlMs = 0))
    }
    assert(e.getMessage.contains(attempt), e.getMessage)
    assert(staged.isDirectory, "the staged attempt is left as it was")
    assert(aside.renameTo(dst))
    ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config(lockTtlMs = 0))
    assert(!staged.exists(), "the published attempt's staging is dropped")
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 20 && out.select("url").distinct().count() == 20)
    assert(ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false), 4).attempted == 0)
    assert(ExtractJob.readOutput(spark, outDir).count() == 20)
  }

  test("heal GCs stray non-attempt files inside staging") {
    val dir = Files.createTempDirectory("graft-ckpt-stray").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 10, seed = 16, parallelism = 2).toDF().cache()
    val staging = new java.io.File(s"$outDir.staging")
    assert(staging.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(staging, "orphan.tmp").toPath, "junk")
    assert(new java.io.File(staging, "_temporary-junk").mkdirs())
    val r1 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
      ExtractJob.Config(salt = false, lockTtlMs = 0))
    assert(r1.attempted == 10)
    val left = staging.listFiles()
    assert(left == null || left.isEmpty, s"strays survived: ${left.mkString(",")}")
    pages.unpersist()
  }

  test("commit-lock heartbeat refreshes the lock mtime (TTL clock restarts)") {
    val dir = Files.createTempDirectory("graft-lock-hb").toString
    val ckptDir = s"$dir/checkpoint"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ExtractJob.acquireCommitLock(fs, ckptDir, "att-1", ttlMs = 60000, maxWaitMs = 1000)
    val lock = new org.apache.hadoop.fs.Path(s"$ckptDir.commitlock")
    val old = System.currentTimeMillis() - 120000
    fs.setTimes(lock, old, old)
    assert(math.abs(fs.getFileStatus(lock).getModificationTime - old) < 5000)
    ExtractJob.heartbeatCommitLock(fs, ckptDir)
    val refreshed = fs.getFileStatus(lock).getModificationTime
    assert(System.currentTimeMillis() - refreshed < 10000,
      s"heartbeat must refresh mtime, got age ${System.currentTimeMillis() - refreshed}")
    ExtractJob.releaseCommitLock(fs, ckptDir)
    assert(!fs.exists(lock))
  }

  test("heal racing a LIVE committer never destroys published output (the r4-advice loss scenario)") {
    // Before heal ran under the commit lock, this interleaving lost
    // data: committer stages src → heal sees src (+ dst mid-rename on
    // copy-based stores) → heal deletes dst after the committer's
    // checkpoint append → urls owned but output gone, never
    // re-extracted. Under the lock the interleaving is serialized;
    // this drives a real committer thread against a heal loop and
    // asserts zero loss however the schedules land.
    val dir = Files.createTempDirectory("graft-heal-race").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 30, seed = 21, parallelism = 2).toDF().cache()
    pages.count()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val committer = new Thread(() =>
      try ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-hr",
        ExtractJob.Config(salt = false))
      catch { case t: Throwable => errs.add(t) })
    val healDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val healer = new Thread(() =>
      try {
        // hammer heal() the whole time the committer works
        while (!healDone.get()) {
          ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config())
          Thread.sleep(10)
        }
      } catch { case t: Throwable => errs.add(t) })
    committer.start(); healer.start()
    committer.join(120000)
    healDone.set(true)
    healer.join(120000)
    assert(errs.isEmpty, s"race must not fail either side: ${errs.toArray.mkString(";")}")
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 30, "no loss under committer/heal race")
    assert(out.select("url").distinct().count() == 30, "no duplicates")
    // a final heal is a no-op on the committed state
    ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config())
    assert(ExtractJob.readOutput(spark, outDir).count() == 30)
    pages.unpersist()
  }

  test("heal waits on a live committer's lock instead of racing it (bounded, fails loudly)") {
    val dir = Files.createTempDirectory("graft-heal-lock").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a LIVE committer holds the lock (fresh mtime, long ttl)
    ExtractJob.acquireCommitLock(fs, ckptDir, "live-committer", ttlMs = 60000, maxWaitMs = 1000)
    // heal must NOT proceed to inspect/delete dst while the lock is
    // held — with a short bounded wait it errors instead of racing
    val e = intercept[java.io.IOException] {
      ExtractJob.heal(spark, outDir, ckptDir,
        ExtractJob.Config(lockTtlMs = 60000, lockWaitMs = 300))
    }
    assert(e.getMessage.contains("not acquired"), e.getMessage)
    ExtractJob.releaseCommitLock(fs, ckptDir)
    // lock free → heal proceeds (no-op here) and releases its own lock
    ExtractJob.heal(spark, outDir, ckptDir,
      ExtractJob.Config(lockTtlMs = 60000, lockWaitMs = 1000))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ckptDir.commitlock")))
  }

  test("heartbeat on a setTimes-refusing FS rewrites the lock in place (TTL still restarts)") {
    val dir = Files.createTempDirectory("graft-lock-hb2").toString
    val ckptDir = s"$dir/checkpoint"
    val raw = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val noSetTimes = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def setTimes(p: org.apache.hadoop.fs.Path, m: Long, a: Long): Unit =
        throw new java.io.IOException("setTimes unsupported")
    }
    ExtractJob.acquireCommitLock(noSetTimes, ckptDir, "att-hb", ttlMs = 60000, maxWaitMs = 1000)
    val lock = new org.apache.hadoop.fs.Path(s"$ckptDir.commitlock")
    val old = System.currentTimeMillis() - 120000
    raw.setTimes(lock, old, old)
    // fallback path: setTimes throws → rewrite-in-place refreshes mtime
    ExtractJob.heartbeatCommitLock(noSetTimes, ckptDir, "att-hb")
    val refreshed = raw.getFileStatus(lock).getModificationTime
    assert(System.currentTimeMillis() - refreshed < 10000,
      s"fallback heartbeat must refresh mtime, got age ${System.currentTimeMillis() - refreshed}")
    assert(ExtractJob.readLockOwner(raw, ckptDir).contains("att-hb"))
    // ownership guard: a lock someone else re-claimed is NOT clobbered
    raw.delete(lock, false)
    ExtractJob.acquireCommitLock(raw, ckptDir, "other-owner", ttlMs = 60000, maxWaitMs = 1000)
    raw.setTimes(lock, old, old)
    ExtractJob.heartbeatCommitLock(noSetTimes, ckptDir, "att-hb")
    assert(ExtractJob.readLockOwner(raw, ckptDir).contains("other-owner"),
      "foreign lock must never be clobbered by a stale heartbeat")
    assert(math.abs(raw.getFileStatus(lock).getModificationTime - old) < 5000,
      "foreign lock mtime must stay untouched")
    ExtractJob.releaseCommitLock(raw, ckptDir)
  }

  test("acquire: write failure after create releases the claim instead of spinning on own lock") {
    val dir = Files.createTempDirectory("graft-lock-wf").toString
    val ckptDir = s"$dir/checkpoint"
    val raw = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val flaky = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream = {
        val out = super.create(p, overwrite)
        if (failures.getAndDecrement() > 0)
          new org.apache.hadoop.fs.FSDataOutputStream(
            new java.io.OutputStream {
              override def write(b: Int): Unit = throw new java.io.IOException("disk full")
              override def write(b: Array[Byte], o: Int, l: Int): Unit =
                throw new java.io.IOException("disk full")
            }, null) { override def close(): Unit = out.close() }
        else out
      }
    }
    val t0 = System.currentTimeMillis()
    // first two writes fail AFTER the create claimed the slot; the fix
    // deletes the own claim and the third try wins — well inside the
    // wait bound (the old code spun on its own empty lock to deadline)
    ExtractJob.acquireCommitLock(flaky, ckptDir, "att-wf", ttlMs = 60000, maxWaitMs = 5000)
    assert(System.currentTimeMillis() - t0 < 4000, "should not spin to the deadline")
    assert(ExtractJob.readLockOwner(raw, ckptDir).contains("att-wf"))
    ExtractJob.releaseCommitLock(raw, ckptDir)
  }

  test("verifyCommitLock aborts when the lock was TTL-broken by another attempt") {
    val dir = Files.createTempDirectory("graft-lock-vf").toString
    val ckptDir = s"$dir/checkpoint"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ExtractJob.acquireCommitLock(fs, ckptDir, "att-a", ttlMs = 60000, maxWaitMs = 1000)
    ExtractJob.verifyCommitLock(fs, ckptDir, "att-a") // own lock: fine
    // simulate a waiter TTL-breaking and re-claiming the lock
    ExtractJob.releaseCommitLock(fs, ckptDir)
    ExtractJob.acquireCommitLock(fs, ckptDir, "att-b", ttlMs = 60000, maxWaitMs = 1000)
    val e = intercept[java.io.IOException](
      ExtractJob.verifyCommitLock(fs, ckptDir, "att-a"))
    assert(e.getMessage.contains("att-a") && e.getMessage.contains("att-b"), e.getMessage)
    ExtractJob.releaseCommitLock(fs, ckptDir)
    val e2 = intercept[java.io.IOException](
      ExtractJob.verifyCommitLock(fs, ckptDir, "att-a"))
    assert(e2.getMessage.contains("<missing>"), e2.getMessage)
  }

  test("lock acquisition is atomic under contention (local O_EXCL claim)") {
    // regression for the non-atomic RawLocalFileSystem create: two
    // racers both passed the exists-check, the second create truncated
    // the first owner's payload, and BOTH sides then failed
    // verifyCommitLock. Hammer the claim path: after every successful
    // acquire the lock must carry exactly OUR id.
    val dir = Files.createTempDirectory("graft-lock-atomic").toString
    val ckptDir = s"$dir/checkpoint"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val acquisitions = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { t =>
      new Thread(() => {
        var i = 0
        while (i < 25) {
          val id = s"att-$t-$i"
          try {
            ExtractJob.acquireCommitLock(fs, ckptDir, id,
              ttlMs = 60000, maxWaitMs = 30000)
            val owner = ExtractJob.readLockOwner(fs, ckptDir)
            if (!owner.contains(id))
              errs.add(s"acquired as $id but lock says $owner")
            acquisitions.incrementAndGet()
            ExtractJob.releaseCommitLock(fs, ckptDir)
          } catch {
            case e: java.io.IOException => errs.add(s"$id: ${e.getMessage}")
          }
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(acquisitions.get() == 8 * 25)
  }

  test("concurrent attempts, same runId: committed ownership is exactly-once") {
    val dir = Files.createTempDirectory("graft-ckpt-race").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 40, seed = 17, parallelism = 2).toDF().cache()
    pages.count()
    // two full runs over the SAME pending set, racing: both may extract
    // everything, but the commit lock + under-lock re-validation make
    // ownership exactly-once — the loser commits only the remainder
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[ExtractJob.RunReport]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try reports.add(ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir,
          "run-race", ExtractJob.Config(salt = false)))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"race must not fail either run: ${errs.toArray.mkString(";")}")
    val rs = reports.toArray(Array.empty[ExtractJob.RunReport])
    assert(rs.length == 2)
    assert(rs.map(_.attempted).sum == 40,
      s"committed ownership must sum to the corpus exactly once: ${rs.mkString(";")}")
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 40, "no loss")
    assert(out.select("url").distinct().count() == 40, "no duplicates")
    // checkpoint ownership is single-attempt per url
    val multiOwned = spark.read.parquet(ckptDir).groupBy("url").count()
      .filter("count > 1").count()
    assert(multiOwned == 0, "each url checkpoint-owned by exactly one attempt")
    assert(!new java.io.File(s"$ckptDir.commitlock").exists())
    pages.unpersist()
  }

  test("validation loser: a commit landing after the base snapshot keeps ownership exactly-once") {
    // deterministic replay of the same-runId race's losing side: A lists
    // its base snapshot and stages, then B commits an overlapping url
    // set, and only then does A take the lock — A's validation must
    // find B's added checkpoint files and commit only the remainder
    val dir = Files.createTempDirectory("graft-ckpt-loser").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    val pages = PagesGen.generate(spark, 40, seed = 18, parallelism = 2).toDF().cache()
    val urls = pages.select("url").collect().map(_.getString(0)).sorted
    def only(us: Seq[String]) = pages.filter(org.apache.spark.sql.functions.col("url").isin(us: _*))
    val cfg = ExtractJob.Config(salt = false)
    // a non-empty base: the first 10 urls are already committed
    val r0 = ExtractJob.runWithCheckpoint(spark, only(urls.take(10).toSeq), outDir, ckptDir, "run-0", cfg)
    var rb: ExtractJob.RunReport = null
    val ra = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-a", cfg, 32,
      ExtractJob.FailPoints(beforeLock = () =>
        rb = ExtractJob.runWithCheckpoint(spark, only(urls.drop(20).toSeq), outDir, ckptDir,
          "run-b", cfg)))
    assert(r0.attempted == 10 && rb.attempted == 20, s"r0=$r0 rb=$rb")
    assert(ra.attempted == 10, s"A must commit only the remainder (urls 10..19): $ra")
    assert(r0.attempted + ra.attempted + rb.attempted == 40, "corpus committed exactly once")
    val ckpt = spark.read.parquet(ckptDir)
    assert(ckpt.groupBy("url").count().filter("count > 1").count() == 0,
      "each url checkpoint-owned by exactly one attempt")
    val owners = ckpt.select("url", "run_id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(owners.size == 40 && urls.slice(10, 20).forall(owners(_) == "run-a"), owners.toString)
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 40 && out.select("url").distinct().count() == 40)
    val staging = new java.io.File(s"$outDir.staging")
    assert(!staging.exists() || staging.listFiles().isEmpty, staging.listFiles().mkString(","))
    pages.unpersist()
  }

  private def jobsDuring[T](body: => T): (T, Int) =
    graft.SparkJobs.during(spark.sparkContext)(body)

  test("commit path launches a constant number of Spark jobs") {
    val dir = Files.createTempDirectory("graft-ckpt-jobs").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    PagesGen.writeBucketed(PagesGen.generateMixed(spark, 120, 5L, 4), s"$dir/pages", 4)
    val pages = PagesGen.readBucketed(spark, s"$dir/pages")
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val isNew = pmod(xxhash64(col("url")), lit(4)) === 0
    val nNew = pages.filter(isNew).count()
    // an empty (or absent) staging root: heal reads nothing
    val (_, healJobs) = jobsDuring(ExtractJob.heal(spark, outDir, ckptDir))
    assert(healJobs == 0, s"heal over an absent staging root launched $healJobs jobs")
    val (r1, firstJobs) = jobsDuring(
      ExtractJob.runWithCheckpoint(spark, pages.filter(!isNew), outDir, ckptDir, "first", nBuckets = 4))
    assert(r1.attempted == 120 - nNew)
    assert(new java.io.File(s"$outDir.staging").exists(), "staging root kept after publish")
    val (_, healJobs2) = jobsDuring(ExtractJob.heal(spark, outDir, ckptDir))
    assert(healJobs2 == 0, s"heal over an empty staging root launched $healJobs2 jobs")
    val (r2, resumeJobs) = jobsDuring(
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "resume", nBuckets = 4))
    assert(r2.attempted == nNew)
    val (r3, noopJobs) = jobsDuring(
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "noop", nBuckets = 4))
    assert(r3 == ExtractJob.RunReport(0, 0, 0, 0))
    assert(resumeJobs <= 6, s"resume launched $resumeJobs jobs (first run: $firstJobs)")
    assert(noopJobs <= 4, s"no-op rerun launched $noopJobs jobs")
    assert(ExtractJob.readOutput(spark, outDir).select("url").distinct().count() == 120)
  }

  test("commit path over a manifested pages table: 1 / 2 / 2 jobs for first run, resume, no-op; nothing persisted") {
    // the table's manifest bounds every payload below the heavy
    // threshold, so no run plans the heavy tier's shuffle stage
    val dir = Files.createTempDirectory("graft-ckpt-manifest").toString
    val (outDir, ckptDir) = (s"$dir/extracted", s"$dir/checkpoint")
    PagesGen.writeBucketed(PagesGen.generateMixed(spark, 120, 5L, 4), s"$dir/pages", 4)
    val pages = PagesGen.readBucketed(spark, s"$dir/pages")
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val isNew = pmod(xxhash64(col("url")), lit(4)) === 0
    // RDDs persisted while each run sits between its stage write and
    // its commit
    val sc = spark.sparkContext
    val persisted = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(input: org.apache.spark.sql.DataFrame, runId: String) = jobsDuring(
      ExtractJob.runWithCheckpoint(spark, input, outDir, ckptDir, runId, ExtractJob.Config(), 4,
        ExtractJob.FailPoints(beforeLock = () => persisted += sc.getPersistentRDDs.size)))
    val before = sc.getPersistentRDDs.size
    val (r1, firstJobs) = run(pages.filter(!isNew), "first")
    val (r2, resumeJobs) = run(pages, "resume")
    val (r3, noopJobs) = run(pages, "noop")
    assert(r1.attempted + r2.attempted == 120 && r3.attempted == 0)
    assert((firstJobs, resumeJobs, noopJobs) == (1, 2, 2))
    assert(persisted == Seq(before, before, before), s"persisted RDDs ${persisted.mkString(",")} vs $before")
  }

  test("a warm checkpointed run compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = Files.createTempDirectory("graft-ckpt-codegen").toString
    PagesGen.writeBucketed(PagesGen.generateMixed(spark, 40, 6L, 4), s"$dir/pages", 4)
    val pages = PagesGen.readBucketed(spark, s"$dir/pages")
    // each run on fresh directories, so every run plans the same query
    def run(i: Int) = ExtractJob.runWithCheckpoint(spark, pages, s"$dir/$i/out", s"$dir/$i/ckpt",
      s"run-$i", nBuckets = 4)
    run(1); run(2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run(3).attempted == 40)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
      "a third run on fresh directories compiled generated code")
  }

  test("commit protocol: kill in the middle of a record; heal finishes the record, then publishes") {
    val dir = Files.createTempDirectory("graft-ckpt-midrecord").toString
    val outDir = s"$dir/extracted"
    val ckptDir = s"$dir/checkpoint"
    // three scan partitions: the stage write leaves three checkpoint files
    val pages = PagesGen.generate(spark, 30, seed = 23, parallelism = 3).toDF().cache()
    intercept[RuntimeException] {
      ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-1",
        ExtractJob.Config(salt = false), 32,
        ExtractJob.FailPoints(midRecord = true))
    }
    // one checkpoint file moved: the checkpoint owns part of the
    // attempt's urls, and nothing is published
    val recorded = spark.read.parquet(ckptDir).count()
    assert(recorded > 0 && recorded < 30, s"$recorded rows recorded")
    assert(!new java.io.File(outDir).exists() || spark.read.parquet(outDir).count() == 0)
    // ttl 0 = restart-after-crash: the crashed committer's lock is broken
    ExtractJob.heal(spark, outDir, ckptDir, ExtractJob.Config(lockTtlMs = 0))
    assert(spark.read.parquet(ckptDir).count() == 30, "heal finishes the record")
    assert(ExtractJob.readOutput(spark, outDir).count() == 30, "heal publishes")
    val r2 = ExtractJob.runWithCheckpoint(spark, pages, outDir, ckptDir, "run-2",
      ExtractJob.Config(salt = false))
    assert(r2.attempted == 0, r2.toString)
    val out = ExtractJob.readOutput(spark, outDir)
    assert(out.count() == 30 && out.select("url").distinct().count() == 30, "each url once")
    val ckpt = spark.read.parquet(ckptDir)
    assert(ckpt.count() == 30 && ckpt.select("url").distinct().count() == 30,
      "each url checkpoint-owned once")
    assert(ckpt.columns.toSeq == StagedParquet.checkpointColumns.fieldNames.toSeq, ckpt.columns.mkString(","))
    val staging = new java.io.File(s"$outDir.staging")
    assert(!staging.exists() || staging.listFiles().isEmpty, staging.listFiles().mkString(","))
    pages.unpersist()
  }

  test("a null payload is an error row, salted, unsalted and manifested; a rerun attempts nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-null-payload").toString
    val nul = PageRow("https://h.example/null", new java.sql.Timestamp(0), null, "", "en")
    val input = PagesGen.generate(spark, 8, seed = 24, parallelism = 2).union(Seq(nul).toDS())
    PagesGen.writeBucketed(input, s"$dir/pages", 4)
    val manifested = PagesGen.readBucketed(spark, s"$dir/pages")
    def nullRow(pages: org.apache.spark.sql.DataFrame, cfg: ExtractJob.Config) = {
      val rows = ExtractJob.extract(pages, cfg).collect()
      assert(rows.length == 9, rows.map(_.url).mkString(","))
      rows.filter(_.url == nul.url).map(d => (d.status, d.error_msg)).toSeq
    }
    val empty = Seq(("error", "empty payload"))
    assert(nullRow(input.toDF(), ExtractJob.Config(salt = false)) == empty)
    assert(nullRow(input.toDF(), ExtractJob.Config()) == empty, "salted")
    assert(nullRow(manifested, ExtractJob.Config()) == empty, "manifested")
    val (outDir, ckptDir) = (s"$dir/out", s"$dir/ckpt")
    val r1 = ExtractJob.runWithCheckpoint(spark, manifested, outDir, ckptDir, "r1", nBuckets = 4)
    val r2 = ExtractJob.runWithCheckpoint(spark, manifested, outDir, ckptDir, "r2", nBuckets = 4)
    assert((r1.attempted, r1.error, r2.attempted) == (9, 1, 0), s"$r1 $r2")
  }

  test("status counts from an empty staging write: every empty input reports zero, none blocks") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-empty").toString
    val pages = PagesGen.generate(spark, 12, seed = 19, parallelism = 2).toDF().cache()
    val cfg = ExtractJob.Config(salt = false)
    val zero = ExtractJob.RunReport(0, 0, 0, 0)
    def run(name: String, input: org.apache.spark.sql.DataFrame): ExtractJob.RunReport =
      Await.result(Future(ExtractJob.runWithCheckpoint(spark, input, s"$dir/$name/out",
        s"$dir/$name/ckpt", name, cfg)), 2.minutes)
    assert(run("empty", spark.emptyDataset[PageRow].toDF()) == zero)
    assert(run("limit0", pages.limit(0)) == zero)
    assert(run("false", pages.filter("false")) == zero)
    assert(run("alldone", pages).attempted == 12)
    assert(run("alldone", pages) == zero)
    pages.unpersist()
  }

  test("fixture kinds through the JOB path decode identically to the kernel path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the same payload bytes the kernel-level pins decode, pushed
    // through ExtractJob.extract (pruning, sniff, dispatch, status)
    val pages = PagesGen.generateFixtures(spark, nPerKind = 6, parallelism = 2).toDF()
    val job = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select("url", "status", "text").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(job.size == 36)
    assert(job.values.forall(_._1 == "ok"), job.filter(_._2._1 != "ok").keys.mkString(","))
    // kernel-path equality per fixture kind (same generators, same ids)
    for (id <- 0L until 6L) {
      val fonts = graft.pdf.PdfExtractor.extract(PagesGen.fontPdf(id),
        graft.pdf.ConversionOptions()).text
      assert(job(s"https://fixtures.example/font$id.pdf")._2 == fonts,
        s"font$id: job path diverged from kernel path")
      val forms = graft.pdf.PdfExtractor.extract(PagesGen.formPdf(id),
        graft.pdf.ConversionOptions()).text
      assert(job(s"https://fixtures.example/form$id.pdf")._2 == forms)
      val outl = graft.pdf.PdfExtractor.extract(PagesGen.outlinePdf(id),
        graft.pdf.ConversionOptions()).text
      assert(job(s"https://fixtures.example/outline$id.pdf")._2 == outl)
      val links = graft.pdf.PdfExtractor.extract(PagesGen.linkPdf(id),
        graft.pdf.ConversionOptions()).text
      assert(job(s"https://fixtures.example/link$id.pdf")._2 == links)
      val imgs = graft.pdf.PdfExtractor.extract(PagesGen.imagePdf(id),
        graft.pdf.ConversionOptions()).text
      assert(job(s"https://fixtures.example/image$id.pdf")._2 == imgs)
      val (st, _, _) = graft.html.BoilerplateStripper.extractAll(PagesGen.structuredHtml(id))
      assert(job(s"https://fixtures.example/structured$id.html")._2 == st)
    }
  }

  test("malformed payloads become error rows with messages, never failures") {
    import spark.implicits._
    val rows = Seq(
      PageRow("https://bad/nohdr", new java.sql.Timestamp(0), "%PDF-1.4 then nothing".getBytes, "", "en"),
      PageRow("https://bad/garbage", new java.sql.Timestamp(0),
        { val a = new Array[Byte](5000); new java.util.Random(3).nextBytes(a)
          System.arraycopy("%PDF-1.7".getBytes, 0, a, 0, 8); a }, "", "en"),
      PageRow("https://good/html", new java.sql.Timestamp(0),
        "<html><body><article><p>Long enough paragraph for the density classifier to keep happily.</p></article></body></html>".getBytes, "", "en"))
    val out = ExtractJob.extract(spark.createDataset(rows).toDF(),
      ExtractJob.Config(salt = false)).collect().map(d => d.url -> d).toMap
    assert(out("https://good/html").status == "ok")
    // the two broken PDFs either recover to ok (reconstruction) or
    // report error with a message — both acceptable, crashing is not
    Seq("https://bad/nohdr", "https://bad/garbage").foreach { u =>
      val d = out(u)
      assert(d.status == "ok" || (d.status == "error" && d.error_msg.nonEmpty), s"$u -> $d")
    }
  }

  test("SparkEntry.entry: flagship query returns rows (driver smoke contract)") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("url") && df.columns.contains("status"))
  }

  test("column pruning reaches the scan (ReadSchema ⊆ {url, html})") {
    val dir = Files.createTempDirectory("graft-pages").toString
    PagesGen.writeBucketed(PagesGen.generate(spark, 20, seed = 3, parallelism = 2), dir, 4)
    val pages = spark.read.parquet(dir)
    val plan = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"), plan)
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"),
      s"scan reads too much: $readSchema")
  }
}
