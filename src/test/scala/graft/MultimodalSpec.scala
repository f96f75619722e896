package graft

import org.apache.spark.sql.functions._
import graft.ops.multimodal.MultimodalOps

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // the explicit composition CorpusCurationJob spells: exactKeep ->
  // anti-join of the words-fed jaccard >= 0.7 id_bs -> quality filter.
  // Returns (dup ids, near-dup survivors, curated rows).
  private def composition(docs: org.apache.spark.sql.DataFrame)
      : (Set[Long], org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.ops.dedup.Dedup
    val uniq = Dedup.exactKeep(docs, "doc_id", "text")
    val cand = Dedup.candidatePairs(Dedup.lshBands(
      Dedup.minHashText(uniq, "doc_id", "text", 3, 16), "doc_id", 16, 4), "doc_id")
    val dupIds = DedupReference.jaccardScoped(
      cand, Dedup.shingleSet(uniq, "doc_id", "text", 3), "doc_id") { j =>
      j.filter(col("jaccard") >= 0.7).select("id_b").collect().map(_.getLong(0)).toSet
    }
    val deduped = uniq.join(dupIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
    val want = deduped.filter(graft.ops.text.TextOps.qualityScore(
      col("text"), graft.pipeline.CorpusCurationJob.Stopwords) >= 0.5)
    (dupIds, deduped, want)
  }

  // the funnel rows counted on the driver from the composition, in the
  // funnel's order (lang ascending, null first); a null lang counts its
  // input only, as the funnel's contract says
  private def independentFunnel(docs: org.apache.spark.sql.DataFrame,
                                deduped: org.apache.spark.sql.DataFrame,
                                want: org.apache.spark.sql.DataFrame)
      : Seq[(String, Long, Long, Long, Long)] = {
    def perLang(rows: Seq[org.apache.spark.sql.Row]): Map[String, Long] =
      rows.groupBy(_.getAs[String]("lang")).map { case (l, rs) => l -> rs.length.toLong }
    val all = docs.select("doc_id", "text", "lang").collect().toSeq
    val input = perLang(all)
    val exact = perLang(all.groupBy(r => Option(r.getString(1))).values
      .map(_.minBy(_.getLong(0))).toSeq)
    val near = perLang(deduped.collect().toSeq)
    val quality = perLang(want.collect().toSeq)
    def later(m: Map[String, Long], l: String) = if (l == null) 0L else m.getOrElse(l, 0L)
    input.keys.toSeq.sortBy(Option(_)).map(l =>
      (l, input(l), later(exact, l), later(near, l), later(quality, l)))
  }

  private def funnelRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("CorpusCurationJob.run writes curated corpus consistent with its funnel") {
    import graft.pipeline.CorpusCurationJob
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    def assertNoCache(after: String): Unit =
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"cached partitions outlive $after")
    // SQL executions (roots only) per run: the verifier's candidate
    // count plus the two writes
    val executions = sparkWork(CorpusCurationJob.run(spark, docs, out))._3
    assert(executions <= 3,
      s"CorpusCurationJob.run took $executions SQL executions (at most 3)")
    assertNoCache("run")
    // the same pipeline again with the verifier's same-id contract
    // guard on (one more eager aggregation per verify call, so it stays
    // out of the execution count above): the fixture corpus passes it,
    // and every check below reads this guarded run
    withContractGuard {
      CorpusCurationJob.run(spark, docs, out)
      assertNoCache("run (contract guard on)")
      val curated = spark.read.parquet(s"$out/curated")
      val funnel = spark.read.parquet(s"$out/funnel")
      val fromFunnel = funnel.agg(org.apache.spark.sql.functions.sum("n_quality"))
        .head.getLong(0)
      assert(curated.count() == fromFunnel, "funnel tail must equal curated count")
      assert(curated.count() > 0 && curated.count() <= docs.count())

      val (dupIds, deduped, want) = composition(docs)
      assert(dupIds.nonEmpty, "the re-crawl-free fixture still has near-dups")
      assert(curated.columns.toSeq == want.columns.toSeq)
      val wantRows = want.collect().toSet
      assert(curated.collect().toSet == wantRows)

      // every funnel column per language against an independent count
      assert(funnel.columns.toSeq ==
        Seq("lang", "n_input", "n_exact", "n_neardup", "n_quality"))
      assert(funnelRows(funnel).toSet == independentFunnel(docs, deduped, want).toSet)

      assert(CorpusCurationJob.funnel(docs).collect().toSeq == funnel.orderBy("lang")
        .collect().toSeq)
      assertNoCache("funnel")
      val h = CorpusCurationJob.curateReleasable(docs)
      assert(h.df.collect().toSet == wantRows)
      h.release()
      assertNoCache("curateReleasable(...).release()")
    }
  }

  test("CorpusCurationJob funnel: a null-lang doc and a language whose every doc is dropped") {
    import graft.pipeline.CorpusCurationJob
    val base = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = base.filter(col("doc_id") < 3).orderBy("doc_id")
      .select("text").collect().map(_.getString(0))
    val fresh = (0 until 60).map(i => s"w$i").mkString(" ")
    def doc(id: Long, text: String, lang: String) =
      (id, text, lang, "src0", text.length.toLong)
    val extra = Seq(
      // null lang: one unique survivor, one exact copy of doc 0
      doc(10001L, fresh, null), doc(10002L, texts(0), null),
      // "xx": both docs are exact copies of lower ids, dropped at exact
      doc(10003L, texts(1), "xx"), doc(10004L, texts(2), "xx"),
      // "yy": a near copy of doc 1 and a short stopword-free doc,
      // dropped at near-dup and at quality
      doc(10005L, texts(1) + " dup", "yy"), doc(10006L, "qz qy qx", "yy"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = base.unionByName(extra)
    val (_, deduped, want) = composition(docs)
    val expected = independentFunnel(docs, deduped, want)
    assert(expected.head == ((null, 2L, 0L, 0L, 0L)), expected.head)
    assert(expected.exists(_ == (("xx", 2L, 0L, 0L, 0L))), expected)
    assert(expected.exists(_ == (("yy", 2L, 2L, 1L, 0L))), expected)
    spark.catalog.clearCache()
    val direct = CorpusCurationJob.funnel(docs)
    assert(direct.schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable)).toSeq ==
      Seq(("lang", "string", true), ("n_input", "bigint", false),
        ("n_exact", "bigint", false), ("n_neardup", "bigint", false),
        ("n_quality", "bigint", false)))
    assert(funnelRows(direct) == expected)
    val out = java.nio.file.Files.createTempDirectory("graft_funnel_edges").toString
    CorpusCurationJob.run(spark, docs, out)
    assert(funnelRows(spark.read.parquet(s"$out/funnel")) == expected)
  }

  private def payloads(texts: (Long, String)*) =
    MultimodalOps.attachPayload(texts.toSeq.toDF("doc_id", "text"), "text")

  test("frameSample slices fixed frames with stride") {
    val df = payloads((1L, "a" * 100)) // 100 bytes -> frames of 40: 3 frames
    val rows = MultimodalOps.frameSample(df, frameLen = 40, stride = 2)
      .select("frame_no", "frame_len").orderBy("frame_no")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // stride 2 keeps frames 0 and 2; frame 2 is the 20-byte tail
    assert(rows.toSeq == Seq((0, 40), (2, 20)))
  }

  test("frameSample stride 1 reconstructs the payload byte-for-byte") {
    val text = "The quick brown fox jumps over the lazy dog, repeatedly." * 3
    val df = payloads((1L, text))
    val frames = MultimodalOps.frameSample(df, frameLen = 16, stride = 1)
      .orderBy("frame_no").select("frame")
      .collect().map(_.getAs[Array[Byte]](0))
    assert(frames.map(new String(_, "UTF-8")).mkString == text)
  }

  test("frameSample payload shorter than one frame yields a single short frame") {
    val rows = MultimodalOps.frameSample(payloads((1L, "tiny")), 64, 2)
      .select("frame_no", "frame_len")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((0, 4)))
  }

  private def synth(ids: Long*) = MultimodalOps.synthImagePayload(
    ids.map(i => (i, s"text $i", false)).toDF("doc_id", "text", "corrupt"),
    "doc_id", "text", "corrupt")

  test("real PNG encode->decode round trip recovers dims and exact channel sum") {
    // id 13: 5x5 image (8+13%8=13? no: 8+5=13 wide, 4+1=5 high), gray 13
    val rows = MultimodalOps.decodeImageMeta(synth(13L, 200L), "doc_id")
      .orderBy("doc_id").collect()
    val r13 = rows(0)
    assert(r13.getAs[Int]("width") == 13 && r13.getAs[Int]("height") == 5)
    assert(r13.getAs[Long]("red_sum") == 13L * 5 * 13)
    assert(r13.getAs[String]("ok") == "Y")
    val r200 = rows(1) // 8+0=8 wide, 4+0=4 high, gray 200
    assert(r200.getAs[Int]("width") == 8 && r200.getAs[Long]("red_sum") == 8L * 4 * 200)
  }

  test("corrupt payloads (raw text, truncated PNG) decode to ok='N', never fail") {
    val good = synth(5L).collect()(0).getAs[Array[Byte]]("payload")
    val corrupt = Seq(
      (1L, "just some text".getBytes("UTF-8")),
      (2L, good.take(10)), // valid PNG magic, truncated body
      (3L, Array.empty[Byte])).toDF("doc_id", "payload")
    val rows = MultimodalOps.decodeImageMeta(corrupt, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows.forall(_.getAs[String]("ok") == "N"))
    assert(rows.forall(_.isNullAt(1)))
  }

  private def synthWav(ids: Long*) =
    MultimodalOps.synthWavPayload(
      ids.map(i => (i, s"text $i", false)).toDF("doc_id", "text", "corrupt"),
      "doc_id", "text", "corrupt")

  test("real WAV encode->decode round trip recovers count, rate and exact sample sum") {
    // id 13: n = 64+13 = 77 samples @ 8000+(13%3)*4000 = 12000 Hz,
    // sample i = 13+i -> sum = 77*13 + 77*76/2
    val rows = MultimodalOps.decodeWavMeta(synthWav(13L, 200L), "doc_id")
      .orderBy("doc_id").collect()
    val r13 = rows(0)
    assert(r13.getAs[Int]("n_samples") == 77 && r13.getAs[Int]("sample_rate") == 12000)
    assert(r13.getAs[Int]("channels") == 1)
    assert(r13.getAs[Long]("sample_sum") == 77L * 13 + 77L * 76 / 2)
    assert(r13.getAs[String]("ok") == "Y")
    val r200 = rows(1) // n = 64+200%64 = 72, rate = 8000+(200%3)*4000 = 16000
    assert(r200.getAs[Int]("n_samples") == 72 && r200.getAs[Int]("sample_rate") == 16000)
    assert(r200.getAs[Long]("sample_sum") == 72L * 0 + 72L * 71 / 2)
  }

  test("corrupt WAV payloads (raw text, truncated data, empty) decode to ok='N', never fail") {
    val good = synthWav(5L).collect()(0).getAs[Array[Byte]]("payload")
    val corrupt = Seq(
      (1L, "just some text".getBytes("UTF-8")),
      // valid RIFF/WAVE header, data section cut short — the header
      // still promises 64+5=69 frames, so a sum over what's left
      // would silently be wrong: must be flagged, not computed
      (2L, good.take(good.length - 20)),
      (3L, Array.empty[Byte])).toDF("doc_id", "payload")
    val rows = MultimodalOps.decodeWavMeta(corrupt, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows.forall(_.getAs[String]("ok") == "N"), rows.mkString(";"))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("mp4 synth->walk round trip recovers boxes, brand, timescale, duration") {
    val docs = Seq((3L, "x", false), (6L, "y", false), (10L, "z", false),
      (17L, "w", false)).toDF("doc_id", "text", "corrupt")
    val rows = MultimodalOps.mp4ContainerMeta(
      MultimodalOps.synthMp4Payload(docs, "doc_id", "text", "corrupt"), "doc_id")
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[String]("ok") == "Y", s"id $id: $r")
      assert(r.getAs[Int]("n_boxes") == 3 + (if (id % 3 == 0) 1 else 0), s"id $id")
      assert(r.getAs[String]("major_brand") == "isom")
      assert(r.getAs[Int]("minor_version") == (id % 512).toInt)
      assert(r.getAs[Int]("timescale") == (600 + (id % 4) * 300).toInt)
      assert(r.getAs[Long]("duration") == 1000 + id % 5000)
    }
    // id 3 and 17 hit the 64-bit LARGESIZE mdat branch (id%7==3)
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 6L, 10L, 17L))
  }

  test("mp4 walker: corrupt, truncated and structurally broken payloads gate ok='N'") {
    val good = MultimodalOps.synthMp4Payload(
      Seq((5L, "x", false)).toDF("doc_id", "text", "corrupt"),
      "doc_id", "text", "corrupt").collect()(0).getAs[Array[Byte]]("payload")
    // a box stream whose moov contains NO mvhd: structurally valid
    // boxes but missing mandatory metadata -> 'N'
    val noMvhd = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(16); out.write("ftypisom".getBytes("US-ASCII")); out.writeInt(0)
      out.writeInt(16); out.write("moov".getBytes("US-ASCII"))
      out.writeInt(8); out.write("free".getBytes("US-ASCII"))
      bos.toByteArray
    }
    val corrupt = Seq(
      (1L, "just some text, definitely not boxes".getBytes("UTF-8")),
      (2L, good.take(good.length - 5)), // truncated mid-mdat
      (3L, Array.empty[Byte]),
      (4L, noMvhd)).toDF("doc_id", "payload")
    val rows = MultimodalOps.mp4ContainerMeta(corrupt, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows.forall(_.getAs[String]("ok") == "N"), rows.mkString(";"))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("decodeWavEnergy: windowed sum-of-squares, silence gate, partial tail ignored") {
    // id 100: a = 100%100 = 0, n = 64+100%64 = 100 samples -> 3 full
    // 32-sample windows (tail of 4 ignored). sample i = 0+i, so
    // window w sumsq = sum_{j=0..31} (32w+j)^2 — window 0 is genuinely
    // quiet (10416 < 320000), windows 1-2 are louder
    def sq(w: Int, a: Long): Long =
      (0 until 32).map(j => { val v = a + 32L * w + j; v * v }).sum
    val rows = MultimodalOps.decodeWavEnergy(synthWav(100L), "doc_id",
      windowSamples = 32, silentMaxSumsq = 320000L).collect()
    val r = rows(0)
    assert(r.getAs[Int]("n_windows") == 3)
    val expected = (0 until 3).map(sq(_, 0L))
    assert(r.getAs[Long]("total_sumsq") == expected.sum)
    assert(r.getAs[Long]("max_win_sumsq") == expected.max)
    assert(r.getAs[Int]("n_silent") == expected.count(_ < 320000L), expected.toString)
    assert(r.getAs[Int]("n_silent") >= 1, "window 0 must read silent")
    // corrupt payload gates through as ok='N' with null stats
    val bad = Seq((9L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val rb = MultimodalOps.decodeWavEnergy(bad, "doc_id", 32, 320000L).collect()(0)
    assert(rb.getAs[String]("ok") == "N" && rb.isNullAt(1))
    // a fully silent clip SHORTER than one window must still be
    // flagged: it reads as ONE pro-rated window, never zero windows
    def wav(pcm: Array[Byte], n: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val silentShort = Seq((20L, wav(new Array[Byte](20 * 2), 20)))
      .toDF("doc_id", "payload")
    val rs = MultimodalOps.decodeWavEnergy(silentShort, "doc_id", 32, 320000L)
      .collect()(0)
    assert(rs.getAs[Int]("n_windows") == 1 && rs.getAs[Int]("n_silent") == 1,
      s"silent sub-window clip must flag: $rs")
    // a LOUD sub-window clip is one non-silent window (scaled threshold)
    val loudPcm = new Array[Byte](20 * 2)
    (0 until 20).foreach { i => loudPcm(2 * i) = 0x10; loudPcm(2 * i + 1) = 0x27 } // 10000
    val rl = MultimodalOps.decodeWavEnergy(
      Seq((21L, wav(loudPcm, 20))).toDF("doc_id", "payload"), "doc_id", 32, 320000L)
      .collect()(0)
    assert(rl.getAs[Int]("n_windows") == 1 && rl.getAs[Int]("n_silent") == 0,
      s"loud sub-window clip must not flag: $rl")
  }

  test("resizeImageNN: constant-color image resizes to exact dims and color") {
    // constant color survives nearest-neighbor exactly: 4x2 gray-77
    val resized = MultimodalOps.resizeImageNN(synth(77L), "doc_id", outW = 4, outH = 2)
      .collect()(0)
    assert(resized.getAs[Int]("orig_w") == 8 + 77 % 8 &&
      resized.getAs[Int]("orig_h") == 4 + 77 % 4)
    val again = MultimodalOps.decodeImageMeta(
      Seq((77L, resized.getAs[Array[Byte]]("resized"))).toDF("doc_id", "payload"),
      "doc_id").collect()(0)
    assert(again.getAs[Int]("width") == 4 && again.getAs[Int]("height") == 2)
    assert(again.getAs[Long]("red_sum") == 4L * 2 * 77)
    assert(again.getAs[String]("ok") == "Y")
  }

  test("mp4SampleTable: run-length keyframe math matches the closed form") {
    // id=2: n1=4,d1=102, n2=3,d2=202, k=3 -> n=7, kf at 1,4,7
    val docs = Seq((2L, "t", false), (11L, "t", false), (7L, "raw text", true))
      .toDF("doc_id", "text", "corrupt")
    val got = MultimodalOps.mp4SampleTable(
        MultimodalOps.synthMp4TrackPayload(docs, "doc_id", "text", "corrupt"),
        "doc_id").collect().map(r => r.getLong(0) -> r).toMap
    val r2 = got(2L)
    assert(r2.getAs[Int]("n_samples") == 7)
    assert(r2.getAs[Int]("media_timescale") == 3000) // 1000*(1+2%3)
    assert(r2.getAs[Long]("duration_ticks") == 4L * 102 + 3L * 202)
    assert(r2.getAs[Int]("n_keyframes") == 3)
    // last kf = sample 7 (1-based): 4 samples of d1 + 2 of d2 before it
    assert(r2.getAs[Long]("kf_last_tick") == 4L * 102 + 2L * 202)
    assert(r2.getAs[Long]("bytes_total") == (0 until 7).map(i => 50L + (2 + i) % 20).sum)
    assert(r2.getAs[String]("ok") == "Y")
    // id=11: trak without stbl (index-less container) must gate, not guess
    assert(got(11L).getAs[String]("ok") == "N" && got(11L).isNullAt(1))
    // corrupt raw text gates
    assert(got(7L).getAs[String]("ok") == "N")
  }

  test("mp4SampleTable: truncated sample tables gate as N, never throw") {
    val full = MultimodalOps.synthMp4TrackPayload(
      Seq((5L, "t", false)).toDF("doc_id", "text", "corrupt"),
      "doc_id", "text", "corrupt").collect()(0).getAs[Array[Byte]]("payload")
    // chop mid-stbl: the moov box length now overruns the buffer
    val truncated = full.take(full.length - 10)
    val r = MultimodalOps.mp4SampleTable(
      Seq((5L, truncated)).toDF("doc_id", "payload"), "doc_id").collect()(0)
    assert(r.getAs[String]("ok") == "N")
  }

  test("mp4 parsers: truncated LEAF HEADERS gate as N, never throw or read garbage") {
    // boxes are well-formed (readBox succeeds; totals fit the buffer)
    // but the leaf payloads are too short for their own headers — the
    // old parsers read past pLen into the NEXT box's bytes (silent
    // garbage) or past buffer end (task crash)
    def box(tp: String, payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(8 + payload.length); out.write(tp.getBytes("US-ASCII"))
      out.write(payload); bos.toByteArray
    }
    // (a) zero-payload mvhd as the LAST bytes of the buffer: the
    // version read must not index past the end
    val emptyMvhdAtEof = box("ftyp", "isom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0)) ++ box("moov", box("mvhd", Array.empty))
    val r1 = MultimodalOps.mp4ContainerMeta(
      Seq((1L, emptyMvhdAtEof)).toDF("doc_id", "payload"), "doc_id").collect()(0)
    assert(r1.getAs[String]("ok") == "N")
    // (b) stts/stss/stsz leaves whose payloads are shorter than their
    // fixed headers, followed by sibling bytes the old reads consumed
    val mdhd = { val p = new Array[Byte](24); p(14) = 0x03; p(15) = 0xe8.toByte; p } // v0, timescale 1000
    val stbl = box("stts", Array.empty) ++ box("stss", Array.empty) ++
      box("stsz", Array[Byte](0, 0, 0, 0)) // 4-byte payload: n field missing
    val trak = box("trak", box("mdia",
      box("mdhd", mdhd) ++ box("minf", box("stbl", stbl))))
    val payload = box("ftyp", "isom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0)) ++ box("moov", trak)
    val r2 = MultimodalOps.mp4SampleTable(
      Seq((2L, payload)).toDF("doc_id", "payload"), "doc_id").collect()(0)
    assert(r2.getAs[String]("ok") == "N", r2.toString)
  }

  test("wavFingerprint: closed-form bits; variant is a near-dup of its base") {
    val docs = Seq(
      (0L, 4L, false, false), (1L, 4L, true, false),
      (2L, 12L, false, false), (3L, 0L, false, true))
      .toDF("doc_id", "cls", "variant", "corrupt")
    val got = MultimodalOps.wavFingerprint(
        MultimodalOps.synthToneWavPayload(
          docs, "doc_id", "cls", "variant", "corrupt"),
        "doc_id", windowSamples = 32)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))).toMap
    // closed form: amplitude a(w) = 10 + ((c*7 + w*w) % 23) (+40 on w=3
    // for variants); energy order = amplitude order
    def closed(c: Long, v: Boolean): Long = {
      def a(w: Int) = 10 + ((c * 7 + w.toLong * w) % 23) +
        (if (v && w == 3) 40 else 0)
      (0 until 32).foldLeft(0L)((fp, w) =>
        if (a(w + 1) > a(w)) fp | (1L << w) else fp)
    }
    assert(got(0L) == ((Some(closed(4, false)), "Y")))
    assert(got(1L) == ((Some(closed(4, true)), "Y")))
    assert(got(2L) == ((Some(closed(12, false)), "Y")))
    assert(got(3L) == ((None, "N")), "corrupt payload must gate, not fail")
    val ham = java.lang.Long.bitCount(closed(4, false) ^ closed(4, true))
    assert(ham >= 1 && ham <= 2, s"planted variant hamming $ham")
  }

  test("wavFingerprint: clips with fewer than two full windows gate as N") {
    // q148's synth: id=0 -> 64 samples; window of 64 -> one window only
    val wav = MultimodalOps.synthWavPayload(
      Seq((0L, "t", false)).toDF("doc_id", "text", "corrupt"),
      "doc_id", "text", "corrupt")
    val r = MultimodalOps.wavFingerprint(wav, "doc_id", windowSamples = 64)
      .collect()(0)
    assert(r.getAs[String]("ok") == "N" && r.isNullAt(2))
    // but two 32-sample windows fingerprint fine
    val r2 = MultimodalOps.wavFingerprint(wav, "doc_id", windowSamples = 32)
      .collect()(0)
    assert(r2.getAs[String]("ok") == "Y" && r2.getAs[Int]("n_windows") == 2)
  }

  test("dHash64: decode round trip matches the closed form; variants are near") {
    // base and variant of the same class, two classes, one corrupt row
    val docs = Seq(
      (0L, 5L, false, false), (1L, 5L, true, false),
      (2L, 9L, false, false), (3L, 9L, false, true)).toDF(
      "doc_id", "cls", "variant", "corrupt")
    val got = MultimodalOps.dHash64(
        MultimodalOps.synthPatternImagePayload(
          docs, "doc_id", "cls", "variant", "corrupt"), "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))).toMap
    // closed form: bit i = bright(x+1,y) && !bright(x,y)
    def closed(c: Long, v: Boolean): Long = {
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (MultimodalOps.patternBright(c, v, x + 1, y) &&
          !MultimodalOps.patternBright(c, v, x, y)) h |= 1L << (y * 8 + x)
      h
    }
    assert(got(0L) == ((Some(closed(5, false)), "Y")))
    assert(got(1L) == ((Some(closed(5, true)), "Y")))
    assert(got(2L) == ((Some(closed(9, false)), "Y")))
    assert(got(3L) == ((None, "N")), "corrupt payload must gate, not fail")
    // the planted variant is a NEAR duplicate of its base (1-2 bits)
    val ham = java.lang.Long.bitCount(closed(5, false) ^ closed(5, true))
    assert(ham >= 1 && ham <= 2, s"variant hamming $ham")
    // different classes are far apart
    assert(java.lang.Long.bitCount(closed(5, false) ^ closed(9, false)) > 6)
  }

  private def synthAvi(ids: Long*) = MultimodalOps.synthAviPayload(
    ids.map(i => (i, s"text $i", false)).toDF("doc_id", "text", "corrupt"),
    "doc_id", "text", "corrupt")

  test("aviDecodeFrames: container walk + real BMP decode matches the closed form") {
    // id=3: 5 frames, 11x7, keyframe cadence k=1, 33336 us/frame
    val rows = MultimodalOps.aviDecodeFrames(synthAvi(3L), "doc_id")
      .orderBy("frame_no").collect()
    assert(rows.length == 5)
    rows.zipWithIndex.foreach { case (r, f) =>
      val c = (3 * 37 + f * 11) % 256
      assert(r.getAs[Int]("width") == 11 && r.getAs[Int]("height") == 7)
      assert(r.getAs[Long]("red_sum") == 77L * c)
      assert(r.getAs[Long]("resized_red_sum") == 8L * c) // 4x2 NN of a constant image
      assert(r.getAs[Boolean]("is_key")) // k=1: every frame is a keyframe
      assert(r.getAs[Long]("pts_us") == f * 33336L)
      assert(r.getAs[String]("ok") == "Y")
    }
  }

  test("aviDecodeFrames: a garbled frame gates only that frame; container fields survive") {
    // id=14: %9==5 plants garbage bytes in frame 0's chunk; 4 frames, k=3
    val rows = MultimodalOps.aviDecodeFrames(synthAvi(14L), "doc_id")
      .orderBy("frame_no").collect()
    assert(rows.length == 4)
    val f0 = rows(0)
    assert(f0.getAs[String]("ok") == "N" && f0.isNullAt(f0.fieldIndex("red_sum")))
    // is_key and pts_us come from idx1/avih, not the codec — they survive
    assert(f0.getAs[Boolean]("is_key") && f0.getAs[Long]("pts_us") == 0L)
    assert(rows.drop(1).forall(_.getAs[String]("ok") == "Y"))
    assert(rows.map(_.getAs[Boolean]("is_key")).toSeq == Seq(true, false, false, true))
  }

  test("aviDecodeFrames: clip-level corruption yields one null row, never a failure") {
    // id=24: %13==11 writes an idx1 that lies about the frame count;
    // raw text and truncated containers are the crawl's other two modes
    val goodBytes = synthAvi(3L).collect()(0).getAs[Array[Byte]]("payload")
    val bad = Seq(
      (24L, synthAvi(24L).collect()(0).getAs[Array[Byte]]("payload")),
      (30L, "not a riff container".getBytes("UTF-8")),
      (31L, goodBytes.take(goodBytes.length / 2)),
      (32L, Array.empty[Byte])).toDF("doc_id", "payload")
    val rows = MultimodalOps.aviDecodeFrames(bad, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows.length == 4, "exactly one clip-level row per corrupt payload")
    assert(rows.forall(r => r.getAs[String]("ok") == "N" &&
      r.isNullAt(r.fieldIndex("frame_no"))))
  }

  test("aviDecodeFrames: MJPEG frames decode through the real JPEG codec") {
    // Same container grammar, frames written by ImageIO's real JPEG
    // encoder ('00dc' chunks, stream fourcc MJPG). JPEG is lossy so
    // there is no closed form, but a uniform-gray frame must decode
    // back within a small per-pixel tolerance of the encoded level —
    // DC quantization at ImageIO's default quality stays well under
    // ±8 on a constant image.
    val df = MultimodalOps.synthAviPayload(
      Seq((3L, "text 3", false)).toDF("doc_id", "text", "corrupt"),
      "doc_id", "text", "corrupt", codec = "jpeg")
    val rows = MultimodalOps.aviDecodeFrames(df, "doc_id")
      .orderBy("frame_no").collect()
    assert(rows.length == 5)
    rows.zipWithIndex.foreach { case (r, f) =>
      val c = (3 * 37 + f * 11) % 256
      assert(r.getAs[String]("ok") == "Y", s"frame $f must decode")
      assert(r.getAs[Int]("width") == 11 && r.getAs[Int]("height") == 7)
      val sum = r.getAs[Long]("red_sum")
      assert(math.abs(sum - 77L * c) <= 77L * 8,
        s"frame $f: JPEG round trip of uniform gray $c drifted: $sum vs ${77L * c}")
      assert(math.abs(r.getAs[Long]("resized_red_sum") - 8L * c) <= 8L * 8)
      assert(r.getAs[Long]("pts_us") == f * 33336L) // container timing survives codecs
      assert(r.getAs[Boolean]("is_key"))
    }
  }
}
