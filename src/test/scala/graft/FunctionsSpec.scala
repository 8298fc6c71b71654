package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions, VectorOps}
import graft.multimodal.{MediaAsset, Multimodal}

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("codegen CosineSimilarity is bitwise-equal to the HOF reference") {
    GraftExtensions.install(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f, 8.0f), Array(-1.5f, 0.125f, 2.0f)),
      (Array(1e-8f, 2e8f, -3.5f), Array(7.0f, -2e-8f, 0.25f))
    ).toDF("a", "b")
      .select(VectorOps.asDouble($"a").as("a"), VectorOps.asDouble($"b").as("b"))
    val rows = df.select(
      VectorOps.cosine($"a", $"b").as("hof"),
      GraftFunctions.cosineSim($"a", $"b").as("native")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("codegen L2DistanceSq is bitwise-equal to the HOF fold; ragged yields NULL; SQL-callable") {
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    def hofL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f, 8.0f), Array(-1.5f, 0.125f, 2.0f)),
      (Array(1e-8f, 2e8f, -3.5f), Array(7.0f, -2e-8f, 0.25f))
    ).toDF("a", "b")
      .select(VectorOps.asDouble($"a").as("a"), VectorOps.asDouble($"b").as("b"))
    val rows = df.select(
      hofL2($"a", $"b").as("hof"),
      GraftFunctions.l2DistSq($"a", $"b").as("native")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(spark.sql("SELECT l2_dist_sq(array(1.0d, 2.0d), array(1.0d)) AS c")
      .collect().head.isNullAt(0), "length mismatch must yield NULL")
    assert(spark.sql(
      "SELECT l2_dist_sq(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS c")
      .as[Double].head() === 8.0)
  }

  test("L2DistanceSq null-poisons on NULL elements, matching the HOF fold") {
    // A null ELEMENT (not a null array) makes the zip_with/aggregate
    // fold yield NULL; the native kernel must agree — toDoubleArray
    // would NPE (GenericArrayData) or silently read 0.0
    // (UnsafeArrayData), a latent cross-engine divergence.
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    def hofL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    // array(double, NULL) carries containsNull = true → the checking path
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)),
        |  (array(1.0d, 2.0d), array(CAST(NULL AS DOUBLE), 2.0d)),
        |  (array(1.0d, 2.0d), array(3.0d, 4.0d))
        |AS t(a, b)""".stripMargin)
    val rows = df.select(
      hofL2(col("a"), col("b")).as("hof"),
      GraftFunctions.l2DistSq(col("a"), col("b")).as("native")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1),
        s"null-poisoning drift: hof=${r.get(0)} native=${r.get(1)}")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    assert(rows.count(_.isNullAt(1)) === 2, "both null-element rows poison")
    // interpreted path (no codegen) must agree too
    val ga = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array[Any](1.0, null))
    val gb = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array[Any](1.0, 2.0))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val lit1 = Literal.create(ga, ArrayType(DoubleType, containsNull = true))
    val lit2 = Literal.create(gb, ArrayType(DoubleType, containsNull = true))
    assert(graft.functions.expressions.L2DistanceSq(lit1, lit2).eval(null) == null)
    assert(graft.functions.expressions.L2DistanceSq(lit2, lit2).eval(null) == 0.0)
  }

  test("cosine_sim returns NULL for ragged (mismatched-length) vectors") {
    GraftExtensions.install(spark)
    val rows = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d)) AS c").collect()
    assert(rows.head.isNullAt(0), "length mismatch must yield NULL, not a truncated score")
  }

  test("cosine_sim is usable from SQL after registration") {
    GraftExtensions.install(spark)
    val v = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .as[Double].head()
    assert(v === 1.0)
  }

  test("array_intersect_size matches the interpreted HOF, incl. nulls/dupes") {
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a")),          // duplicates in a each count
      (Seq.empty[String], Seq("x")),
      (Seq("x", "y"), Seq.empty[String])
    ).toDF("a", "b")
      .unionByName(Seq((Seq("a", null, "b"), Seq(null.asInstanceOf[String], "b")))
        .toDF("a", "b")) // null elements never match
      // null ARRAYS: HOF gives NULL for a-null and 0 for b-null — the
      // kernel must match that asymmetry exactly
      .unionByName(Seq(
        (null.asInstanceOf[Seq[String]], Seq("x")),
        (Seq("x"), null.asInstanceOf[Seq[String]])).toDF("a", "b"))
    val got = df.select(
      GraftFunctions.arrayIntersectSize($"a", $"b").as("fast"),
      size(filter($"a", x => array_contains($"b", x))).as("hof"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getInt(0) === r.getInt(1), r.toString)
    }
    def v(r: org.apache.spark.sql.Row) = if (r.isNullAt(0)) -99 else r.getInt(0)
    assert(got.map(v).toSeq === Seq(2, 2, 0, 0, 1, -99, 0))
  }

  test("array_intersect_size projection stays inside WholeStageCodegen") {
    // The kernel's doGenCode emits a raw java.util.HashSet because Janino's
    // generics support is partial — a codegen compile failure would fall
    // back to the interpreted path silently. This asserts the fallback did
    // NOT happen: the projection prints as a codegen span ("*(n) Project").
    GraftExtensions.install(spark)
    // built on range (not a local Seq) so ConvertToLocalRelation cannot
    // evaluate the projection at optimization time and erase the evidence
    val df = spark.range(8).select(GraftFunctions.arrayIntersectSize(
      array(concat(lit("k"), ($"id" % 2).cast("string")), lit("b")),
      array(lit("k0"), lit("b"))).as("n"))
    assert(df.collect().map(_.getInt(0)).sum === 12) // 4×2 + 4×1
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"array_intersect_size fell out of whole-stage codegen:\n$plan")
  }

  test("decodeBatch really decodes PNG and BMP payloads (dims + pixels)") {
    def encode(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = encode("png", 19, 7, 0xA05010) // red=0xA0 → bucket 0xA0>>5 = 5
    val bmp = encode("bmp", 33, 21, 0x201080) // red=0x20 → bucket 1
    val out = Multimodal.decodeBatch(Seq(
      MediaAsset(1L, "image", png.length.toLong, "c1", png),
      MediaAsset(2L, "image", bmp.length.toLong, "c2", bmp),
      // PNG magic but corrupt body: codec returns null → stub fallback,
      // not a crash (the batch must survive poison assets)
      MediaAsset(3L, "image", 12L, "c3",
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 1, 2, 3, 4, 5, 6, 7)),
      // BMP's magic check is just "BM", so the reader CLAIMS this stream
      // and then THROWS parsing the garbage header — must also fall
      // through to the stub, not kill the task
      MediaAsset(4L, "image", 12L, "c4",
        ("BM" + "ÿ" * 10).getBytes("ISO-8859-1"))))
    assert(out(0).width === 19 && out(0).height === 7 && out(0).channels === 3)
    assert(out(0).histogram(5) === 1.0 && out(0).histogram.sum === 1.0)
    assert(out(1).width === 33 && out(1).height === 21 && out(1).channels === 3)
    assert(out(1).histogram(1) === 1.0)
    assert(out(2).width === (12 % 64) + 1) // stub path formula
    assert(out(3).width === (12 % 64) + 1) // throwing decoder → stub, no crash
  }

  test("audio decode: WAV round trip recovers rate/length/RMS/clip exactly; poison skipped") {
    // hand-build a known signal: 8 samples, ±1000 square wave with two
    // full-scale samples → rms/clip predictable to the bit
    val n = 8
    val data = new Array[Byte](2 * n)
    val vals = Array(32767, -1000, 1000, -1000, 32767, -1000, 1000, -1000)
    vals.zipWithIndex.foreach { case (v, i) =>
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val out = Multimodal.decodeAudioBatch(Seq(
      MediaAsset(7L, "audio", wav.length.toLong, "c", wav),
      // RIFF magic but truncated body: parser throws → skipped, no crash
      MediaAsset(8L, "audio", 8L, "c", "RIFFxxxx".getBytes("ISO-8859-1")),
      // valid container, unsupported shape for the PCM16-mono stats path
      MediaAsset(9L, "audio", 4L, "c", Array[Byte](1, 2, 3, 4))))
    assert(out.map(_.doc_id) === Seq(7L))
    val f = out.head
    assert(f.sample_rate === 8000 && f.n_samples === 8L)
    assert(f.duration_sec === 8.0 / 8000.0)
    val sumsq = vals.map(v => v.toLong * v).sum
    assert(f.rms === math.sqrt(sumsq.toDouble / n.toDouble) / 32768.0)
    assert(f.clip_rate === 2.0 / 8.0)
  }

  test("multimodal decodeBatch is deterministic and batch-invariant") {
    val assets = (1L to 130L).map { i =>
      val bytes = s"payload-$i-${"x" * (i % 7).toInt}".getBytes("UTF-8")
      MediaAsset(i, "image", bytes.length.toLong, "c", bytes)
    }
    val ds = spark.createDataset(assets).repartition(3)
    val a = Multimodal.decodeFeatures(ds, batchSize = 7).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeFeatures(ds, batchSize = 64).collect().sortBy(_.doc_id)
    assert(a.length === 130)
    assert(a.map(_.doc_id).toSeq === b.map(_.doc_id).toSeq)
    a.zip(b).foreach { case (x, y) =>
      assert(x.width === y.width && x.height === y.height)
      assert(x.histogram.toSeq === y.histogram.toSeq)
      assert(math.abs(x.histogram.sum - 1.0) < 1e-9)
    }
  }

  test("phash: decoded-pixel aHash matches the closed-form prediction for every document") {
    // brute-force reference computed WITHOUT any codec: rebuild the
    // gradient from its formula, pool, compare to the engine's
    // decode-the-actual-PNG path
    def sim(id: Long): (Int, Int, Long, Long) = {
      val w = ((id % 5) + 2).toInt * 8
      val h = (((id * 3) % 4) + 2).toInt * 8
      val a = (id % 7).toInt
      val b = ((id * 5) % 11).toInt
      val cells = new Array[Long](64)
      var total = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * a + y * b) % 256
        cells((y / (h / 8)) * 8 + (x / (w / 8))) += v
        total += v
      }
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64; if cells(i) * 64 >= total)
        if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
      (w, h, hi, lo)
    }
    val got = Multimodal
      .phashFeatures(Multimodal.patternAssets(spark, "/root/testdata/sf0.001"))
      .collect().sortBy(_.doc_id)
    assert(got.length === 500)
    got.foreach { p =>
      val (w, h, hi, lo) = sim(p.doc_id)
      assert((p.width, p.height, p.hash_hi, p.hash_lo) === ((w, h, hi, lo)),
        s"doc ${p.doc_id}")
    }
    // the collision structure is the point: identical pattern params ⇒
    // identical hashes, and the corpus must contain real collisions
    val groups = got.groupBy(p => (p.hash_hi, p.hash_lo))
    assert(groups.values.exists(_.length > 1), "expected hash collisions")
    got.groupBy(p =>
        (p.doc_id % 5, (p.doc_id * 3) % 4, p.doc_id % 7, (p.doc_id * 5) % 11))
      .values.foreach { same =>
        assert(same.map(p => (p.hash_hi, p.hash_lo)).distinct.length === 1,
          "identical patterns must collide")
      }
  }

  test("frame dupes: every reported fingerprint really repeats, counts bounded by the frame census") {
    val fd = Multimodal
      .queries("multimodal_frame_dupes")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(fd.nonEmpty && fd.length <= 20,
      "the synthetic corpus carries repeated frames at every SF")
    fd.foreach { r =>
      assert(r.getAs[Long]("n_frames") > 1)
      assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_frames"))
    }
    // descending with deterministic tie-break
    fd.sliding(2).foreach { case Array(a, b) =>
      val (na, nb) = (a.getAs[Long]("n_frames"), b.getAs[Long]("n_frames"))
      assert(na > nb || (na == nb &&
        a.getAs[String]("frame_md5") < b.getAs[String]("frame_md5")))
    }
  }

  test("gif frames: every synthesized frame decodes back to its closed form") {
    // real container walk + per-frame pixel decode vs the synthesis
    // formulas — frame count, dims, solid gray, full red-channel sum
    val got = Multimodal.gifFrames(
        Multimodal.gifAssets(spark, "/root/testdata/sf0.001"))
      .collect().groupBy(_.doc_id)
    assert(got.nonEmpty)
    val nDocs =
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(got.size === nDocs, "one decoded frame set per document")
    got.foreach { case (id, frames) =>
      val nf = (id % 4 + 2).toInt
      val w = ((id % 3) + 1).toInt * 8
      val h = ((id / 3 % 3) + 1).toInt * 8
      assert(frames.length === nf, s"doc $id frame count")
      frames.sortBy(_.frame_id).zipWithIndex.foreach { case (f, i) =>
        val v = (((id + i.toLong * 5) % 32) * 8).toInt
        assert(f.frame_id === i)
        assert((f.width, f.height, f.gray) === ((w, h, v)), s"doc $id frame $i")
        assert(f.red_sum === v.toLong * w * h, s"doc $id frame $i red_sum")
      }
    }
  }

  test("phash near-dup banding finds EVERY hamming<=3 pair the brute cross product finds") {
    // recall-1.0-by-pigeonhole claim, checked against an in-test brute
    // force over the collected distinct hashes
    val hashes = Multimodal
      .phashFeatures(Multimodal.patternAssets(spark, "/root/testdata/sf0.001"))
      .collect().groupBy(p => (p.hash_hi, p.hash_lo))
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSeq
    var brute = Map.empty[Int, (Long, Long)] // d -> (hashPairs, docPairs)
    for (i <- hashes.indices; j <- (i + 1) until hashes.length) {
      val (h1, l1, n1) = hashes(i); val (h2, l2, n2) = hashes(j)
      val d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      if (d <= 3) {
        val (hp, dp) = brute.getOrElse(d, (0L, 0L))
        brute += d -> (hp + 1, dp + n1 * n2)
      }
    }
    val got = multimodal.Multimodal
      .queries("multimodal_phash_neardup")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[Int]("hamming") ->
        ((r.getAs[Long]("n_hash_pairs"), r.getAs[Long]("n_doc_pairs"))))
      .toMap
    assert(got === brute, s"banded: $got vs brute: $brute")
    assert(brute.nonEmpty, "the corpus must contain near-dup hash pairs")
  }

  test("caption screen: groups match a brute recompute, witnesses differ on the varying side") {
    import org.apache.spark.sql.functions.{col, lower, md5, trim}
    val sfDir = "/root/testdata/sf0.001"
    // collected ground truth: (doc_id, image_fp, caption_fp)
    val img = Multimodal.phashFeatures(Multimodal.patternAssets(spark, sfDir))
      .collect().map(p => p.doc_id -> s"${p.hash_hi}:${p.hash_lo}").toMap
    val cap = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def brute(group: Long => String, varies: Long => String) =
      img.keys.groupBy(group).filter(_._2.map(varies).toSet.size > 1)
        .map { case (k, ids) =>
          k -> ((ids.size.toLong, ids.map(varies).toSet.size.toLong))
        }
    val wantImg = brute(img, cap)
    val wantCap = brute(cap, img)
    val rows = Multimodal.queries("multimodal_caption_screen")(spark, sfDir)
      .collect()
    for (band <- Seq("same_image_diff_caption", "same_caption_diff_image")) {
      val want = if (band.startsWith("same_image")) wantImg else wantCap
      val varies: Long => String = if (band.startsWith("same_image")) cap else img
      val got = rows.filter(_.getAs[String]("band") == band)
      assert(got.map(r => r.getAs[String]("group_key") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_variants")))).toMap === want,
        s"$band groups/counts drifted from brute recompute")
      for (r <- got) {
        val (a, b) = (r.getAs[Long]("example_a"), r.getAs[Long]("example_b"))
        assert(varies(a) != varies(b),
          s"$band ${r.getAs[String]("group_key")}: witnesses $a/$b share the varying fingerprint")
      }
    }
    assert(wantImg.nonEmpty, "corpus must contain colliding images")
    CachePool.releaseAll()
  }

  test("one way in: only GraftFunctions.scala touches the planner or the function registry") {
    // Source audit: a session set-up inside a query or a helper makes a
    // plan depend on which query ran first, so the strategy, the rule
    // and the functions reach a session only through GraftExtensions.
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    def text(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val setUp = Seq(".experimental", "extraStrategies", "extraOptimizations",
      "createOrReplaceTempFunction", "registerFunction")
    val gone = Seq("installedWithRewrite", "GraftFunctions.register")
    val offenders = files.flatMap { f =>
      val words = if (f.getName == "GraftFunctions.scala") gone else setUp ++ gone
      words.filter(text(f).contains).map(w => s"${f.getPath}: $w")
    }
    assert(offenders.isEmpty,
      s"""session set-up outside GraftExtensions.install:
         |  ${offenders.mkString("\n  ")}""".stripMargin)
    // the scan must see the source tree, including the one install
    val home = files.find(_.getName == "GraftFunctions.scala")
    assert(files.size > 20 && home.exists(f => text(f).contains("extraStrategies")))
  }
}
