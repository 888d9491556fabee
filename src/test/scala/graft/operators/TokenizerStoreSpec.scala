package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Fs

class TokenizerStoreSpec extends SparkSpec {
  import spark.implicits._

  private def withWork(f: java.nio.file.Path => Unit): Unit = {
    val work = java.nio.file.Files.createTempDirectory("graft-tokstore")
    try f(work) finally Fs.rmTree(work.toFile)
  }

  private def docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat on the log"),
    (3L, "a cat and a dog and a log"),
    (4L, "low lower lowest newer newest wide wider widest"),
    (5L, "the the the cat cat dog")).toDF("doc_id", "text")

  test("bpe merge table: save → load → tokenCounts is row-identical to in-memory serving") {
    withWork { work =>
      val path = work.resolve("bpe").toString
      val trained = BpeTrain.train(docs, "text", numMerges = 6)
      val inMem = trained.orderBy("rank").select("l", "r").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TokenizerStore.saveMerges(path, trained)
      val loaded = TokenizerStore.loadMerges(spark, path)
      assert(loaded == inMem)
      val a = BpeTrain.tokenCounts(docs, "doc_id", "text", inMem)
        .orderBy("doc_id").collect().toSeq
      val b = BpeTrain.tokenCounts(docs, "doc_id", "text", loaded)
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
      // extras (pair_count) survive the round trip
      assert(TokenizerStore.loadMergeTable(spark, path).columns.toSet ==
        trained.columns.toSet)
    }
  }

  test("wordpiece ranks round-trip under their own kind, including score_q") {
    withWork { work =>
      val path = work.resolve("wp").toString
      val trained = WordPieceTrain.train(docs, "text", numMerges = 5)
      TokenizerStore.saveMerges(path, trained, TokenizerStore.KindWordPiece)
      val back = TokenizerStore.loadMergeTable(spark, path)
        .orderBy("rank").collect().toSeq
      assert(back == trained.orderBy("rank").collect().toSeq)
      assert(TokenizerStore.loadMerges(spark, path) ==
        trained.orderBy("rank").select("l", "r").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq)
    }
  }

  test("unigram model: save → load is an exact sequence identity and serves identically") {
    withWork { work =>
      val path = work.resolve("uni").toString
      val model = UnigramLm.train(docs, "text", vocabSize = 60,
        maxPieceLen = 3, seedSize = 30, emIters = 1)
      TokenizerStore.saveUnigram(path, model, spark)
      val loaded = TokenizerStore.loadUnigram(spark, path)
      assert(loaded == model) // exact order, not just set equality
      val a = UnigramLm.tokenCounts(docs, "doc_id", "text", model)
        .orderBy("doc_id").collect().toSeq
      val b = UnigramLm.tokenCounts(docs, "doc_id", "text", loaded)
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
    }
  }

  test("GPT-2 export: vocab.bpe line order IS the automaton's rank order, and the re-import serves bit-identically") {
    withWork { work =>
      val path = work.resolve("bpe").toString
      val trained = ByteLevel.trainBpeBytes(docs, "text", numMerges = 6)
      TokenizerStore.saveMerges(path, trained)
      val exp = work.resolve("gpt2").toString
      TokenizerStore.exportGpt2(spark, path, exp)
      // the exported vocab.bpe lines, in file order, ARE the stored
      // table's rank order — the r13 trainer-consistency condition made
      // portable (a loader applying lines in order reproduces serving)
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(exp, "vocab.bpe"))
      assert(lines.get(0).startsWith("#version"))
      val fileMerges = (1 until lines.size).map { i =>
        val Array(l, r) = lines.get(i).split(" ", 2); (l, r)
      }
      assert(fileMerges == TokenizerStore.loadMerges(spark, path))
      // encoder.json: the 256 byte-visible alphabet at ids 0–255 (byte
      // order), then one id per merge's fused symbol in rank order
      val enc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(exp, "encoder.json")))
      ByteLevel.byteFallbackPieces.zipWithIndex.foreach { case (p, i) =>
        assert(enc.get(p).asInt() === i, s"alphabet symbol $i")
      }
      fileMerges.foreach { case (l, r) =>
        assert(enc.has(l + r), s"fused symbol for ('$l','$r')")
      }
      // re-import → identical table → identical serving
      val back = work.resolve("bpe2").toString
      TokenizerStore.importGpt2(spark, exp, back)
      val reloaded = TokenizerStore.loadMerges(spark, back)
      assert(reloaded == TokenizerStore.loadMerges(spark, path))
      val a = ByteLevel.tokenCountsBpeBytes(docs, "doc_id", "text",
        TokenizerStore.loadMerges(spark, path)).orderBy("doc_id").collect().toSeq
      val b = ByteLevel.tokenCountsBpeBytes(docs, "doc_id", "text", reloaded)
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
    }
  }

  test("GPT-2 import refuses a torn pair: a merge absent from encoder.json is loud") {
    withWork { work =>
      val path = work.resolve("bpe").toString
      TokenizerStore.saveMerges(path,
        ByteLevel.trainBpeBytes(docs, "text", numMerges = 4))
      val exp = work.resolve("gpt2").toString
      TokenizerStore.exportGpt2(spark, path, exp)
      // tear the pair: append a merge line the encoder never assigned
      val bpe = java.nio.file.Paths.get(exp, "vocab.bpe")
      java.nio.file.Files.writeString(bpe,
        java.nio.file.Files.readString(bpe) + "zz qq\n")
      val ex = intercept[IllegalArgumentException](
        TokenizerStore.importGpt2(spark, exp, work.resolve("b2").toString))
      assert(ex.getMessage.contains("encoder.json"), ex.getMessage)
      // a unigram artifact has no merge-table pair to export
      val uni = work.resolve("uni").toString
      TokenizerStore.saveUnigram(uni, Seq(("a", 1L), ("b", 2L)), spark)
      val ex2 = intercept[IllegalArgumentException](
        TokenizerStore.exportGpt2(spark, uni, work.resolve("x").toString))
      assert(ex2.getMessage.contains("merge table"), ex2.getMessage)
    }
  }

  test("GPT-2 round trip preserves '#'-leading merges, non-byte leaf symbols, and a caller-stated kind") {
    withWork { work =>
      // '#' is byte 0x23 (maps to itself in the byte-visible alphabet) —
      // a code/markdown corpus legitimately learns '#'-leading merges; a
      // blanket '#'-comment filter on import would silently drop them
      // and shift every later rank. Cyrillic leaves sit OUTSIDE the
      // 256-byte alphabet — the exported encoder must carry them or the
      // import integrity check rejects the engine's own export.
      val path = work.resolve("wp").toString
      val table = Seq(
        (1L, "#", "#"), (2L, "##", "#"), (3L, "п", "р"), (4L, "пр", "#"))
        .toDF("rank", "l", "r")
      TokenizerStore.saveMerges(path, table, TokenizerStore.KindWordPiece)
      val exp = work.resolve("gpt2").toString
      TokenizerStore.exportGpt2(spark, path, exp)
      val back = work.resolve("wp2").toString
      TokenizerStore.importGpt2(spark, exp, back,
        kind = TokenizerStore.KindWordPiece)
      assert(TokenizerStore.loadMerges(spark, back) ===
        Seq(("#", "#"), ("##", "#"), ("п", "р"), ("пр", "#")))
      assert(TokenizerStore.kindOf(spark, back) ===
        TokenizerStore.KindWordPiece, "the caller-stated kind survives")
      // the pair-less default re-imports as bpe (the format carries none)
      TokenizerStore.importGpt2(spark, exp, work.resolve("b3").toString)
      assert(TokenizerStore.kindOf(spark, work.resolve("b3").toString) ===
        TokenizerStore.KindBpe)
    }
  }

  test("a FOREIGN hand-constructed GPT-2 pair imports and serves its documented semantics: hand-computed tokenizations, Ġ-marker merge chain, multi-byte UTF-8 leaf") {
    withWork { work =>
      // the pair below is hand-constructed IN the published format
      // (Radford et al. 2019): a first-merges-style vocab.bpe whose
      // early lines mirror the documented released table ('Ġ t', 'Ġ a',
      // 'h e', 'i n', 'r e', 'o n', 'Ġt he' — Ġ is byteVisible(space) =
      // U+0120, the byte-marker), plus a multi-byte UTF-8 leaf merge
      // 'Ã ©' (é = bytes 0xC3 0xA9 → byte-visible 'Ã','©'). This proves
      // the OTHER direction of q_bpe_export_roundtrip: our automaton
      // reproduces a foreign table's documented semantics, not just our
      // own export.
      val exp = work.resolve("gpt2").toFile
      exp.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(exp, "vocab.bpe").toPath,
        ("#version: 0.2\nĠ t\nĠ a\nh e\ni n\nr e\no n\n" +
          "Ġt he\nÃ ©\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // encoder.json in the published construction: the 256 byte-visible
      // alphabet at ids 0–255, then one id per fused symbol in rank order
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      var id = 0
      (ByteLevel.byteFallbackPieces ++ Seq("Ġt", "Ġa", "he",
        "in", "re", "on", "Ġthe", "Ã©")).foreach { t =>
        node.put(t, id); id += 1
      }
      java.nio.file.Files.write(
        new java.io.File(exp, "encoder.json").toPath,
        mapper.writeValueAsBytes(node))
      val path = work.resolve("foreign").toString
      TokenizerStore.importGpt2(spark, exp.getPath, path)
      val merges = TokenizerStore.loadMerges(spark, path)
      assert(merges === Seq(("Ġ", "t"), ("Ġ", "a"), ("h", "e"),
        ("i", "n"), ("r", "e"), ("o", "n"), ("Ġt", "he"),
        ("Ã", "©")), "file line order IS the rank order")
      // hand-computed tokenizations under the documented rank-order
      // application (GPT-2 pre-tokenize → byte-encode → merge by rank):
      //   "the the" → [t,he] ["Ġthe"]   (the Ġ-marker chain: Ġ+t → Ġt,
      //                                  h+e → he, Ġt+he → Ġthe)
      //   "in on"   → [in] [Ġ,on]       (no Ġo merge exists)
      //   "café"    → [c,a,f,Ã©]        (the multi-byte leaf fuses; c/a/f
      //                                  stay single — no merge applies)
      val fdocs = Seq((1L, "the the"), (2L, "in on"), (3L, "café"))
        .toDF("doc_id", "text")
      val got = fdocs.select(col("doc_id"),
          BpeTrain.tokens(ByteLevel.byteText(col("text")), merges)
            .alias("toks"))
        .orderBy("doc_id").collect()
        .map(_.getSeq[scala.collection.Seq[String]](1).map(_.toSeq).toSeq)
      assert(got(0) === Seq(Seq("t", "he"), Seq("Ġthe")))
      assert(got(1) === Seq(Seq("in"), Seq("Ġ", "on")))
      assert(got(2) === Seq(Seq("c", "a", "f", "Ã©")))
      // and the corpus-scale compiled automaton agrees with the counts
      val counts = ByteLevel.tokenCountsBpeBytes(fdocs, "doc_id", "text",
          merges)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(counts.toSeq === Seq((1L, 3L), (2L, 3L), (3L, 4L)))
    }
  }

  test("kind mismatch fails loudly in both directions") {
    withWork { work =>
      val mp = work.resolve("m").toString
      val up = work.resolve("u").toString
      TokenizerStore.saveMerges(mp, BpeTrain.train(docs, "text", 3))
      TokenizerStore.saveUnigram(up, Seq(("a", 2L), ("b", 1L)), spark)
      val e1 = intercept[IllegalArgumentException](
        TokenizerStore.loadUnigram(spark, mp))
      assert(e1.getMessage.contains("not a unigram model"))
      val e2 = intercept[IllegalArgumentException](
        TokenizerStore.loadMerges(spark, up))
      assert(e2.getMessage.contains("not a merge table"))
      intercept[IllegalArgumentException](
        TokenizerStore.saveMerges(work.resolve("bad").toString,
          BpeTrain.train(docs, "text", 3), TokenizerStore.KindUnigram))
    }
  }

  // ── Publish protocol: a model generation + one manifest PUT ────────────

  private def modelGen(path: String): String =
    ServingManifest(path).get("model").asText()

  test("a crash after the model generation write, before the PUT: the previous model serves and a re-save converges") {
    withWork { work =>
      val live = work.resolve("live").toString
      val crashed = work.resolve("crashed").toString
      TokenizerStore.saveMerges(live, BpeTrain.train(docs, "text", 3))
      val gen1 = TokenizerStore.loadMerges(spark, live)
      // the crashed save's disk: the previous version plus the complete,
      // fsynced generation of the new model, named by no manifest
      ServingManifest.copyTree(new java.io.File(live), new java.io.File(crashed))
      TokenizerStore.saveMerges(live, BpeTrain.train(docs, "text", 5))
      val staged = modelGen(live)
      ServingManifest.copyTree(new java.io.File(live, staged),
        new java.io.File(crashed, staged))
      assert(TokenizerStore.loadMerges(spark, crashed) == gen1)
      // the re-run save publishes its own generation; the crashed one is
      // young, so GC keeps it (it could be a concurrent save in flight)
      TokenizerStore.saveMerges(crashed, BpeTrain.train(docs, "text", 5))
      val gen2 = TokenizerStore.loadMerges(spark, crashed)
      assert(gen2 == TokenizerStore.loadMerges(spark, live))
      assert(gen2.size == 5 && gen2.take(3) == gen1)
      assert(new java.io.File(crashed, staged).exists())
    }
  }

  test("a torn newest manifest is skipped: the previous model serves and its slot burns") {
    withWork { work =>
      val path = work.resolve("t").toString
      val trained = WordPieceTrain.train(docs, "text", numMerges = 2)
      TokenizerStore.saveMerges(path, trained, TokenizerStore.KindWordPiece)
      val want = TokenizerStore.loadMerges(spark, path)
      val bytes = java.nio.file.Files.readAllBytes(
        ServingManifest.files(path).head.toPath)
      java.nio.file.Files.write(
        new java.io.File(path, "manifest-000000000002.json").toPath,
        bytes.take(bytes.length - 3))
      assert(TokenizerStore.loadMerges(spark, path) == want)
      assert(TokenizerStore.kindOf(spark, path) == TokenizerStore.KindWordPiece)
      TokenizerStore.saveUnigram(path, Seq(("a", 1L)), spark)
      assert(ServingManifest.files(path).head.getName ==
        "manifest-000000000003.json", "the torn slot burns its number")
      assert(TokenizerStore.loadUnigram(spark, path) == Seq(("a", 1L)))
    }
  }

  test("GC: a young unreferenced generation survives, the replaced model goes at once, an aged orphan sweeps") {
    withWork { work =>
      val path = work.resolve("g").toString
      TokenizerStore.saveUnigram(path, Seq(("a", 2L), ("b", 1L)), spark)
      val first = modelGen(path)
      val orphan = new java.io.File(path, "gen-model-orphan")
      orphan.mkdirs()
      TokenizerStore.saveUnigram(path, Seq(("c", 3L)), spark)
      assert(ServingManifest.generationDirs(path) ===
        Set(modelGen(path), orphan.getName),
        s"the replaced model $first must be gone, the young orphan kept")
      ServingManifest.age(orphan)
      TokenizerStore.saveUnigram(path, Seq(("d", 4L)), spark)
      assert(ServingManifest.generationDirs(path) === Set(modelGen(path)))
    }
  }

  test("a pre-manifest tokenizer layout fails loudly at every entry point and is never overwritten") {
    withWork { work =>
      val dir = work.resolve("legacy").toFile
      new java.io.File(dir, "model").mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(dir, "_meta.json").toPath,
        """{"kind":"bpe","version":1}""")
      val path = dir.getPath
      val merges = BpeTrain.train(docs, "text", 3)
      val calls: Seq[() => Any] = Seq(
        () => TokenizerStore.loadMergeTable(spark, path),
        () => TokenizerStore.loadMerges(spark, path),
        () => TokenizerStore.loadUnigram(spark, path),
        () => TokenizerStore.loadServed(spark, path),
        () => TokenizerStore.loadServedWithHash(spark, path),
        () => TokenizerStore.kindOf(spark, path),
        () => TokenizerStore.contentHash(spark, path),
        () => TokenizerStore.exportGpt2(spark, path,
          work.resolve("x").toString),
        () => TokenizerStore.saveMerges(path, merges),
        () => TokenizerStore.saveUnigram(path, Seq(("a", 1L)), spark))
      calls.foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(path) && e.getMessage.contains("re-save"),
          e.getMessage)
      }
      assert(dir.list().toSet == Set("model", "_meta.json"),
        "the legacy layout must be left exactly as it was")
    }
  }

  test("reading a missing artifact names the path") {
    withWork { work =>
      val e = intercept[IllegalStateException](
        TokenizerStore.loadUnigram(spark, work.resolve("nope").toString))
      assert(e.getMessage.contains("no tokenizer artifact"))
    }
  }

  test("empty unigram model is refused") {
    withWork { work =>
      intercept[IllegalArgumentException](
        TokenizerStore.saveUnigram(work.resolve("e").toString, Seq.empty, spark))
    }
  }
}
