package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE trainer: canonical merge sequence on the textbook fixture,
  * deterministic tie-breaks, partition invariance. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learns the textbook merge sequence with deterministic tie-breaks") {
    // low:3 lower:2 newest:1 — hand-derived rounds:
    //  1: lo/ow tie at 5 -> 'lo' (left asc)   2: (lo,w) 5
    //  3: (low,e)/(e,r) tie at 2 -> (e,r)     4: (low,er) 2
    val docs = Seq(
      "low low low", "lower lower", "newest").toDF("text")
    val got = Bpe.bpeTrain(docs, nMerges = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, "l", "o", "lo", 5L),
      (2L, "lo", "w", "low", 5L),
      (3L, "e", "r", "er", 2L),
      (4L, "low", "er", "lower", 2L)), s"got $got")
  }

  test("encode roundtrips: pieces re-concatenate to every word, seen or unseen") {
    val train = Seq("low low low", "lower lower", "newest").toDF("text")
    val merges = Bpe.bpeTrain(train, nMerges = 4)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // serve a corpus containing words the trainer never saw — merges
    // that apply, apply ("slower" gets 'lo' and 'er'); the rest
    // stays characters; and EVERY word decodes back exactly
    val serve = Seq((0L, "low lower slower zebra"), (1L, "lowest newest low"))
      .toDF("doc_id", "text")
    val enc = Bpe.encodeWith(serve, merges)
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"))
      .collect()
    assert(enc.length == 7)
    enc.foreach { r =>
      val pieces = r.getSeq[String](3)
      assert(pieces.mkString("") == r.getString(2),
        s"decode roundtrip broke: $pieces != ${r.getString(2)}")
      assert(pieces.forall(_.nonEmpty))
    }
    val byWord = enc.map(r => r.getString(2) -> r.getSeq[String](3).toList).toMap
    assert(byWord("low") == List("low"))
    assert(byWord("lower") == List("lower"))
    assert(byWord("slower") == List("s", "lower"))        // merges apply inside unseen words
    assert(byWord("zebra") == List("z", "e", "b", "r", "a")) // nothing applies -> characters
    assert(byWord("lowest") == List("low", "e", "s", "t"))
  }

  test("encode roundtrip holds on pseudo-random unseen words (seeded sweep)") {
    // merges learned on the corpus, then applied to 200 random words
    // the trainer never saw — re-concatenation must hold for all of
    // them (merges can only fuse ADJACENT pieces, never alter bytes)
    val merges = Bpe.bpeTrain(Tables.documents(spark, sf), nMerges = 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val rng = new scala.util.Random(42)
    val words = (0 until 200).map { _ =>
      (0 until (1 + rng.nextInt(12))).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    val serve = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val enc = Bpe.encodeWith(serve, merges)
      .select(col("w"), col("pieces")).collect()
    assert(enc.length == 200)
    enc.foreach { r =>
      assert(r.getSeq[String](1).mkString("") == r.getString(0),
        s"roundtrip broke on random word ${r.getString(0)}")
    }
  }

  test("corpus encode: md5-pinned sequence, counts consistent, partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val a = Bpe.bpeEncode(docs).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (nw, np) = (r.getLong(1), r.getLong(2))
      assert(np >= nw, s"pieces < words on doc ${r.getLong(0)}")
      assert(r.getString(4).length == 32) // md5 hex
    }
    val b = Bpe.bpeEncode(docs.repartition(7)).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // BPE-grounded packing: block token mass conserves the per-doc
    // piece totals exactly, and the assignment is partition-invariant
    val packed = Bpe.packBpeBlocks(docs).collect()
    val packedTotal = packed.map(_.getLong(3)).sum
    val encTotal = a.map(_.getLong(2)).sum
    assert(packedTotal == encTotal,
      s"packing lost tokens: $packedTotal != $encTotal")
    val packed2 = Bpe.packBpeBlocks(docs.repartition(5)).collect()
    assert(packed.map(_.toString).toSeq == packed2.map(_.toString).toSeq)
  }

  test("training is partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val one = Bpe.bpeTrain(docs.coalesce(1), 3).collect().map(_.toString).toSeq
    val many = Bpe.bpeTrain(docs.repartition(7), 3).collect().map(_.toString).toSeq
    assert(one == many && one.nonEmpty)
  }

  /** The one-merge-at-a-time textbook algorithm, driver-side, same
    * tokenization and tie-breaks — the ground truth the batched
    * trainer must reproduce merge for merge. */
  private def sequentialReference(vocab: Seq[(String, Long)], nMerges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var words: Seq[(Array[String], Long)] =
      vocab.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1L
    while (step <= nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) { counts((syms(i), syms(i + 1))) += f; i += 1 }
      }
      if (counts.isEmpty) return merges.toSeq
      val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      merges += ((step, a, b, a + b, n))
      words = words.map { case (syms, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toArray, f)
      }
      step += 1
    }
    merges.toSeq
  }

  test("batched rounds reproduce the sequential merge sequence exactly (256 merges)") {
    val docs = Tables.documents(spark, sf)
    // same vocabulary the trainer derives (same tokenization rule)
    val vocab = docs
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = sequentialReference(vocab, 256)
    val (gotDf, rounds) = Bpe.bpeTrainWithRounds(docs, nMerges = 256)
    val got = gotDf.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got == expected,
      s"first divergence: ${got.zip(expected).indexWhere { case (g, e) => g != e }}")
    info(s"256 merges in $rounds batched rounds")
    assert(rounds < 256 / 2,
      s"batching should collapse rounds well below one-per-merge; took $rounds for 256")
  }

  test("SCALED training: 256 merges over mixed-gram units == sequential reference") {
    val docs = Tables.documents(spark, sf)
    // the scaled unit inventory, rebuilt driver-side: word 1..2-grams
    // concatenated (the trainer's unitsOf), [a-z]+ gate
    val unitVocab = docs.select(col("text")).collect()
      .flatMap { r =>
        val tk = r.getString(0).trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        tk.indices.flatMap { p =>
          (1 to Bpe.ScaledMaxGram).flatMap { g =>
            if (p + g <= tk.length) Some(tk.slice(p, p + g).mkString("")) else None
          }
        }
      }
      .filter(_.matches("[a-z]+"))
      .groupBy(identity).map { case (w, o) => (w, o.length.toLong) }.toSeq
    assert(unitVocab.size > 500,
      s"mixed-gram inventory should be tokenizer-scale, got ${unitVocab.size}")
    val expected = sequentialReference(unitVocab, Bpe.ScaledMerges)
    assert(expected.size == Bpe.ScaledMerges,
      s"corpus saturated early: only ${expected.size} merges learnable")
    val (gotDf, rounds) = Bpe.bpeTrainWithRounds(docs,
      nMerges = Bpe.ScaledMerges, maxGram = Bpe.ScaledMaxGram)
    val got = gotDf.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got == expected,
      s"first divergence: ${got.zip(expected).indexWhere { case (g, e) => g != e }}")
    info(s"scaled: ${Bpe.ScaledMerges} merges in $rounds batched rounds")
    assert(rounds < Bpe.ScaledMerges,
      s"batching must beat one-round-per-merge at scale; took $rounds")
  }

  test("a training runs at most rounds + 3 Spark jobs") {
    // an in-memory copy of the corpus: no file listing, so the memo
    // never serves it and every call trains
    val docs = Tables.documents(spark, sf).select(col("text"))
    val local = spark.createDataFrame(java.util.Arrays.asList(docs.collect(): _*), docs.schema)
    var rounds = 0
    val jobs = SparkJobs.countIn(spark) {
      rounds = Bpe.bpeTrainWithRounds(local, nMerges = 64, maxGram = Bpe.ScaledMaxGram)._2
    }
    info(s"64 merges: $rounds rounds, $jobs jobs")
    assert(rounds > 0 && jobs <= rounds + 3, s"$jobs jobs for $rounds rounds")
  }

  test("SCALED serving: roundtrip under the 256-merge table; size-routed join is value-invisible") {
    val docs = Tables.documents(spark, sf)
    val merges = Bpe.bpeTrainScaled(docs)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == Bpe.ScaledMerges)
    val serve = Seq((0L, "filter filterhash slower zebra"), (1L, "customer vectorjoin"))
      .toDF("doc_id", "text")
    val enc = Bpe.encodeWith(serve, merges)
      .select(col("doc_id"), col("pos"), col("w"), col("pieces")).collect()
    assert(enc.length == 6)
    enc.foreach { r =>
      assert(r.getSeq[String](3).mkString("") == r.getString(2),
        s"scaled roundtrip broke on ${r.getString(2)}")
    }
    // the size-routed plain-join path (broadcastTypesMax = 0 forces
    // it) must produce the identical encoding — routing is an
    // execution-strategy swap, never a result change
    val plain = Bpe.encodeWith(serve, merges, broadcastTypesMax = 0L)
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"))
      .orderBy(col("doc_id"), col("pos")).collect()
    val bcast = Bpe.encodeWith(serve, merges)
      .select(col("doc_id"), col("pos"), col("w"), col("pieces"))
      .orderBy(col("doc_id"), col("pos")).collect()
    assert(plain.map(_.toString).toSeq == bcast.map(_.toString).toSeq)
    // scaled encode compresses at least as hard as the toy table on
    // the same corpus (more merges can only fuse more)
    val toyPieces = Bpe.bpeEncode(docs).agg(sum(col("n_pieces"))).head().getLong(0)
    val scaledPieces = Bpe.bpeEncodeScaled(docs).agg(sum(col("n_pieces"))).head().getLong(0)
    assert(scaledPieces < toyPieces,
      s"256 merges should compress below 4 merges: $scaledPieces vs $toyPieces")
  }

  test("encodeWith refuses merge symbols outside the trainer's alphabet") {
    val serve = Seq((0L, "low")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Bpe.encodeWith(serve, Seq(("l'", "o"))))
    intercept[IllegalArgumentException](
      Bpe.encodeWith(serve, Seq(("l|o", "w"))))
    intercept[IllegalArgumentException](
      Bpe.encodeWith(serve, Seq(("", "o"))))
  }
}
