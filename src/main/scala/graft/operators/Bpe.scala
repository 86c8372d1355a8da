package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** BPE tokenizer TRAINING — the multi-round merge loop, distributed
  * (`txt_bpe_pairs` is one round of pair counting; this is the
  * trainer that consumes it). Sennrich et al.'s algorithm, shaped
  * for a 100 TB corpus:
  *
  *  - the corpus is tokenized ONCE into a (word, freq) vocabulary
  *    and never touched again — every merge round runs over the
  *    vocabulary, which is orders of magnitude smaller than the
  *    corpus (the standard trainer optimization); the vocab RDD is
  *    persisted and its lineage re-sealed every 8 rounds, so round r
  *    never re-derives rounds 1..r-1 from the corpus;
  *  - each round is ONE Spark job: adjacent symbol pairs flatMap out
  *    of the symbol sequences, counts reduceByKey weighted by word
  *    frequency (map-side combine), and takeOrdered brings the top-K
  *    pairs to the driver in canonical order (count desc, left asc,
  *    right asc), so training is deterministic on any partitioning;
  *  - the merge applies map-side as a literal String.replace over
  *    `|`-wrapped symbol sequences (`|a||b|` → `|ab|`): wrapped
  *    symbols never share delimiter characters, so replace-all is
  *    exactly the canonical merge-ALL-occurrences step — the same
  *    left-to-right, non-overlapping replace as the SQL `replace`
  *    of the serving encoder and the DuckDB oracle replay.
  *
  * Words are restricted to lowercase letter runs so the `|`
  * delimiter cannot collide with symbol text.
  *
  * SCALE (round 14): the toy default (nMerges = 4) demonstrates the
  * loop; [[ScaledMerges]] = 256 runs it at tokenizer scale — two
  * orders up, the GloVe-scaling playbook applied to the second
  * trainer. The synthetic corpus has only 31 distinct words (≈100
  * learnable merges), so the scaled vocabulary is MIXED-GRANULARITY
  * like the scaled GloVe vocab: units are word n-grams of length
  * 1..[[ScaledMaxGram]] CONCATENATED (no separator — the unit stays
  * a `[a-z]+` run, so the delimiter-wrapping merge algebra and the
  * oracle replay carry over unchanged), giving ~950 unit types and
  * a ≥7000-merge ceiling. Training is memoized per (corpus, params)
  * — one training serves the train/encode/pack graded rows and the
  * bench — and the batched accept rule holds at scale: 256 merges in
  * ~90 Spark rounds, provably equal to the one-at-a-time sequence. */
object Bpe {

  /** Candidates fetched per round — bounds the driver collect; the
    * batch accept rule below never needs more than it can see. */
  private val TopK = 64

  /** The scaled-trainer constants: 256 merges over mixed 1..2-gram
    * concatenated units. */
  val ScaledMerges = 256
  val ScaledMaxGram = 2

  /** The unit array BPE trains over: whitespace words for
    * maxGram = 1, else all word n-grams of length 1..maxGram in
    * (position, length) order, CONCATENATED — `"join hash"` yields
    * units `join`, `joinhash`, `hash`, … — so every unit is still a
    * lowercase-letter run and the `|` merge delimiter stays
    * collision-free. Map-only; mirrored term for term by the
    * oracle's list_transform replay. */
  private def unitsOf(c: Column, maxGram: Int): Column =
    if (maxGram == 1) tokens(lower(c))
    else {
      // level-wise zip_with construction — see Glove.unitsOf (round
      // 14): the per-(position, gram) slice + array_join lambda nest
      // ran interpreted and dominated the unit pass; u_g =
      // u_{g-1} ⧺ tk shifted by g−1 (zip_with null-pads, concat
      // null-propagates ≡ the old out-of-range `when`), interleaved
      // position-major — output identical term for term.
      val tk = tokens(lower(c))
      val n = size(tk)
      val levels = (2 to maxGram).scanLeft(tk) { (prev, g) =>
        zip_with(prev, slice(tk, lit(g), n), (xy, z) => concat(xy, z))
      }
      val zipped = arrays_zip(levels.zipWithIndex.map {
        case (l, i) => l.as(s"g$i")
      }: _*)
      filter(
        flatten(transform(zipped, s =>
          array(levels.indices.map(i => s.getField(s"g$i")): _*))),
        u => u.isNotNull)
    }

  /** The canonical candidate order: count desc, left asc, right asc.
    * Symbols are `[a-z]+`, where Java String order is Spark's byte
    * order. */
  private val Canonical: Ordering[(String, String, Long)] =
    Ordering.by[(String, String, Long), (Long, String, String)] { case (a, b, n) => (-n, a, b) }

  /** The symbols of a `|`-wrapped sequence: `|ab||c|` → [ab, c]. */
  private def symbols(seq: String): Array[String] =
    seq.substring(1, seq.length - 1).split("\\|\\|")

  /** The shared training loop: returns the merge log, the final
    * vocabulary (w, freq, seq) it produced, and the number of Spark
    * ROUNDS it took — one implementation behind the trainer and the
    * segmentation stats, so the compression number is always
    * measured against the merges the trainer actually learned.
    *
    * Batched rounds, EXACT canonical sequence: each round collects
    * the top-K pairs in canonical order (count desc, left asc,
    * right asc) and accepts a maximal PREFIX of that ranking whose
    * members are pairwise symbol-disjoint. The prefix property makes
    * this provably equal to the one-merge-at-a-time sequence:
    *
    *  - every pair ranked above an accepted candidate is itself
    *    accepted (prefix), so the canonical argmax at each position
    *    is among {the candidate, pairs affected by earlier accepted
    *    merges, pairs newly created by them};
    *  - affected OLD pairs only lose occurrences, so they cannot
    *    rise above a candidate they already ranked below;
    *  - a NEW pair (x, ab) created by an accepted merge (a,b) has
    *    count ≤ the old count of (x,a) — a pair that shares symbol
    *    `a`, hence is NOT accepted, hence ranks BELOW the candidate
    *    (prefix again), i.e. its count is ≤ the candidate's;
    *  - acceptance therefore also STOPS when that inequality cannot
    *    be made strict from what the round can see: some non-
    *    accepted pair sharing a symbol with the accepted set ties
    *    the candidate's count (a new pair could tie and win the
    *    lexicographic break), or the K-th count ties it (the unseen
    *    tail could hide such a pair).
    *
    * Accepted merges touch disjoint symbols, so their replaces
    * compose into ONE map per round; rounds collapse ~K-fold on
    * natural text where top pairs rarely collide, while a 32k-merge
    * production vocabulary no longer means 32k Spark jobs.
    *
    * The vocabulary is one SQL aggregation; the rounds run on it as
    * an RDD of (w, freq, seq), ONE job each (reduceByKey +
    * takeOrdered). The final vocabulary stays persisted for the
    * caller; `release` drops it. */
  private def trainLoop(docs: DataFrame, nMerges: Int, contentCol: String,
                        maxGram: Int = 1): Trainer = {
    val vocab0 = docs
      .select(explode(unitsOf(col(contentCol), maxGram)).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("seq", regexp_replace(col("w"), "(.)", "|$1|"))
      .queryExecution.toRdd
      .map(r => (r.getUTF8String(0).toString, r.getLong(1), r.getUTF8String(2).toString))
    // the persisted vocabularies, newest last: the corpus is touched
    // once (round 1 fills the first), and a re-sealed one replaces
    // its predecessors once a round has read through it
    val held = scala.collection.mutable.ArrayBuffer[RDD[(String, Long, String)]](
      vocab0.persist(StorageLevel.MEMORY_AND_DISK))
    var vocab = held.last
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rounds = 0
    var sinceCheckpoint = 0
    def result = new Trainer(merges.toSeq, rounds, vocab, held.toSeq)
    while (merges.size < nMerges) {
      val top = vocab
        .flatMap { case (_, freq, seq) =>
          val tk = symbols(seq)
          (0 until tk.length - 1).iterator.map(j => ((tk(j), tk(j + 1)), freq))
        }
        .reduceByKey(_ + _)
        .map { case ((a, b), n) => (a, b, n) }
        .takeOrdered(TopK)(Canonical)
      while (held.size > 1) held.remove(0).unpersist(blocking = false)
      if (top.isEmpty) return result
      rounds += 1
      val sawAllPairs = top.length < TopK
      val tailCount = top.last._3
      val accepted = scala.collection.mutable.ArrayBuffer(top.head)
      // applying merge (a,b) can only shrink pairs ( · ,a) — their
      // `a` may be consumed by a following b — and pairs (b, · ) —
      // their `b` may be consumed by a preceding a; and any NEW pair
      // it creates, (x,ab) or (ab,y), is count-bounded by one of
      // those same pairs. Pairs (a, y≠b) and (x≠a, b) are untouched.
      var leftsMerged = Set(top.head._1)  // a's: pairs ending in one are at risk
      var rightsMerged = Set(top.head._2) // b's: pairs starting with one are at risk
      def atRisk(pa: String, pb: String): Boolean =
        leftsMerged(pb) || rightsMerged(pa)
      var stopped = false
      var j = 1
      while (!stopped && j < top.length &&
             accepted.size < nMerges - merges.size) {
        val (a, b, n) = top(j)
        // the candidate's own count must be provably unchanged
        val conflict = atRisk(a, b)
        // tie risk: a non-accepted at-risk pair (seen here, or
        // possibly hiding below rank K) matches n — a new pair
        // bounded by it could tie and win the lex break
        lazy val eqRisk =
          top.exists { case p @ (pa, pb, pn) =>
            pn == n && !accepted.contains(p) && atRisk(pa, pb)
          } || (!sawAllPairs && tailCount == n)
        if (conflict || eqRisk) stopped = true
        else {
          accepted += top(j)
          leftsMerged = leftsMerged + a
          rightsMerged = rightsMerged + b
        }
        j += 1
      }
      // disjoint symbols: the replaces commute; apply them map-side in
      // acceptance order — String.replace is SQL replace's left-to-
      // right, non-overlapping replace-all
      val replaces = accepted.map { case (a, b, _) => (s"|$a||$b|", s"|$a$b|") }.toArray
      accepted.foreach { case (a, b, n) =>
        merges += (((merges.size + 1).toLong, a, b, a + b, n))
      }
      vocab = vocab.map { case (w, freq, seq) =>
        (w, freq, replaces.foldLeft(seq) { case (s, (from, to)) => s.replace(from, to) })
      }
      // the scaled trainer runs ~90 rounds: re-seal the lineage every
      // few rounds (the next round's job fills the checkpoint) so a
      // task never ships a long chain of merge maps
      sinceCheckpoint += 1
      if (sinceCheckpoint >= 8 && merges.size < nMerges) {
        vocab = vocab.localCheckpoint()
        held += vocab
        sinceCheckpoint = 0
      }
    }
    result
  }

  /** A finished training: the merge log, the round count, the final
    * vocabulary and the persisted RDDs it reads. */
  private final class Trainer(val merges: Seq[(Long, String, String, String, Long)],
                              val rounds: Int, val vocab: RDD[(String, Long, String)],
                              held: Seq[RDD[_]]) {
    def release(): Unit = held.foreach(_.unpersist(blocking = false))
  }

  // One training serves every consumer (txt_bpe_train/encode,
  // pipe_pack_bpe, and their scaled twins, plus the bench) — the
  // Glove memo discipline verbatim: keyed on (application, corpus
  // fingerprint, canonical plan hash, params); values are the
  // driver-side merge log (≤ nMerges tuples — model-sized by
  // construction) plus the round count; in-memory inputs (no file
  // listing to fingerprint) train fresh so specs stay isolated.
  private final case class TrainedMerges(
      merges: Seq[(Long, String, String, String, Long)], rounds: Int)
  private val memoCap = 4
  private val memo = new java.util.LinkedHashMap[String, TrainedMerges](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, TrainedMerges]): Boolean =
      size > memoCap
  }

  /** Drop every memoized training (round 15): the bench's
    * `txt_bpe_train_cold` row times the scaled training from
    * parquet, not the memo-warm serve. Test/bench hook only. */
  private[graft] def clearMemo(): Unit = memo.synchronized(memo.clear())
  // per-key in-flight futures: the memo lock is held only for get/put,
  // never across the multi-round Spark training (the Glove
  // concurrency contract)
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[TrainedMerges]]()

  /** The memoized merge log + round count for (corpus, params). */
  private def trainedMerges(docs: DataFrame, nMerges: Int,
                            contentCol: String, maxGram: Int): TrainedMerges = {
    def fresh(): TrainedMerges = {
      val t = trainLoop(docs, nMerges, contentCol, maxGram)
      t.release()
      TrainedMerges(t.merges, t.rounds)
    }
    if (docs.inputFiles.isEmpty) return fresh()
    val key = Seq(
      docs.sparkSession.sparkContext.applicationId,
      graft.sources.ZoneCache.corpusFingerprint(docs),
      docs.queryExecution.analyzed.canonicalized.semanticHash().toString,
      nMerges, contentCol, maxGram).mkString("|")
    def memoGet: Option[TrainedMerges] =
      memo.synchronized(Option(memo.get(key)))
    memoGet.getOrElse {
      val mine = new java.util.concurrent.CompletableFuture[TrainedMerges]()
      val winner = inflight.putIfAbsent(key, mine)
      if (winner == null) {
        try {
          val got = memoGet.getOrElse {
            val f = fresh()
            memo.synchronized(memo.put(key, f))
            f
          }
          mine.complete(got)
          got
        } catch {
          case t: Throwable => mine.completeExceptionally(t); throw t
        } finally inflight.remove(key)
      } else winner.join()
    }
  }

  /** The merge table (step, left, right, merged, n) — the artifact a
    * tokenizer ships. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 4,
               contentCol: String = "text", maxGram: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainedMerges(docs, nMerges, contentCol, maxGram).merges
      .toDF("step", "left", "right", "merged", "n")
  }

  /** The merge table plus the number of Spark rounds the batched
    * trainer took — the scheduling-cost number (rounds ≪ merges on
    * natural text; a sequential trainer would pay one round per
    * merge). */
  def bpeTrainWithRounds(docs: DataFrame, nMerges: Int = 4,
                         contentCol: String = "text",
                         maxGram: Int = 1): (DataFrame, Int) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = trainedMerges(docs, nMerges, contentCol, maxGram)
    (t.merges.toDF("step", "left", "right", "merged", "n"), t.rounds)
  }

  /** The SCALED merge table: 256 merges over mixed 1..2-gram units —
    * the tokenizer a production chunk/embed stage would ship, graded
    * end to end (the oracle replays all 256 rounds as materialized
    * CTEs). */
  def bpeTrainScaled(docs: DataFrame, contentCol: String = "text"): DataFrame =
    bpeTrain(docs, ScaledMerges, contentCol, ScaledMaxGram)

  /** Apply a learned merge list to arbitrary text — the SERVING
    * encoder. Each distinct [a-z]+ word type wraps to `|c|h|a|r|`
    * form and replays the merges IN TRAINING ORDER as literal
    * replaces (provably equal to the canonical one-merge-at-a-time
    * segmentation — the trainLoop batching theorem); the encoded
    * piece arrays join back to the exploded word stream. Unseen
    * words segment naturally: merges that apply, apply; the rest
    * stays characters. Corpus cost: one explode + one join; the
    * merge replay runs on the DISTINCT word types only.
    *
    * SIZE-ROUTED join-back: the distinct-type table is usually
    * model-scale (a natural-language vocabulary), so the default
    * path broadcasts it; an open-web 100 TB corpus's junk-token tail
    * can exceed the broadcast ceiling, so above `broadcastTypesMax`
    * encoded types the join degrades to a plain shuffled equi-join —
    * same result, no driver/executor OOM (the GraphAnnIndex
    * literal-map vs anti-join routing discipline). The type table is
    * checkpointed first, so the routing count never re-derives the
    * corpus distinct.
    *
    * Scale note: the replay composes one `replace` per merge, so a
    * production 32k-merge table would nest 32k expressions — beyond
    * that ladder, swap the replay stage for a mapPartitions trie
    * encoder over the SAME distinct-types frame (the join-back and
    * everything downstream are unchanged); the graded rows run at
    * spec-scale merge counts where the declarative form wins. */
  def encodeWith(df: DataFrame, merges: Seq[(String, String)],
                 contentCol: String = "text",
                 broadcastTypesMax: Long = 1000000L): DataFrame = {
    // enforce the trainer's documented [a-z]+ alphabet at the public
    // entry: a pipe inside a symbol would silently mis-segment
    require(merges.forall { case (a, b) =>
        a.matches("[a-z]+") && b.matches("[a-z]+") },
      "BPE merges must be lowercase-letter symbols (the trainer's alphabet)")
    val words = df.select(col("doc_id"),
        posexplode(tokens(lower(col(contentCol)))).as(Seq("pos", "w")))
      .where(col("w").rlike("^[a-z]+$"))
    val types = words.select(col("w")).distinct()
      .withColumn("seq", regexp_replace(col("w"), "(.)", "|$1|"))
    // built as Columns, not SQL text: a 256-deep nested `replace`
    // string overflows the SQL parser's stack
    val replayed = merges.foldLeft(col("seq")) { case (e, (a, b)) =>
      replace(e, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    val enc = types.select(col("w"), replayed.as("seq"))
      .select(col("w"), split(expr("trim(BOTH '|' FROM seq)"), "\\|\\|").as("pieces"))
      .localCheckpoint(true)
    val routed = if (enc.count() <= broadcastTypesMax) broadcast(enc) else enc
    words.join(routed, "w")
  }

  /** The corpus ENCODED under the trained merge table, graded per
    * doc: word/piece counts plus the md5 of the full space-joined
    * piece sequence in document order — one hash pins every piece
    * and its position. Sequence reassembly is array-native
    * (collect_list of (pos, pieces) structs, array_sort on pos,
    * flatten): no per-row UDF, order-deterministic on any
    * partitioning. */
  def bpeEncode(docs: DataFrame, nMerges: Int = 4,
                contentCol: String = "text", maxGram: Int = 1): DataFrame = {
    val merges = trainedMerges(docs, nMerges, contentCol, maxGram).merges
      .map { case (_, a, b, _, _) => (a, b) }
    val encStr = array_join(
      flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("pieces")))),
        x => x.getField("pieces"))), " ")
    encodeWith(docs, merges, contentCol)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).as("n_pieces"),
        encStr.as("enc"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        substring(col("enc"), 1, 80).as("enc_head"),
        md5(col("enc")).as("enc_md5"))
      .orderBy(col("doc_id"))
  }

  /** The corpus encoded under the SCALED 256-merge table — the
    * serving surface a real pipeline runs; same graded shape as the
    * toy row, three orders more merge table behind it. */
  def bpeEncodeScaled(docs: DataFrame, contentCol: String = "text"): DataFrame =
    bpeEncode(docs, ScaledMerges, contentCol, ScaledMaxGram)

  /** Docs packed into fixed-budget training blocks under the TRAINED
    * tokenizer's piece counts — the real-tokenizer-grounded form of
    * the whitespace-token packing (`Chunker.packSequences`): per-doc
    * BPE piece totals from [[encodeWith]], then the same greedy
    * running-mass assignment `floor(preceding_pieces / blockTokens)`
    * per source in doc_id order. The window partitions by source, so
    * sources pack independently across the cluster — no global
    * sort. */
  def packBpeBlocks(docs: DataFrame, nMerges: Int = 4,
                    blockTokens: Int = 512,
                    contentCol: String = "text", maxGram: Int = 1): DataFrame = {
    val merges = trainedMerges(docs, nMerges, contentCol, maxGram).merges
      .map { case (_, a, b, _, _) => (a, b) }
    val perDoc = encodeWith(docs, merges, contentCol)
      .groupBy(col("doc_id")).agg(sum(size(col("pieces"))).as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col("doc_id"), col("source")).join(perDoc, "doc_id")
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("block_id",
        floor((col("cum_tok") - col("n_tok")) / lit(blockTokens)).cast("long"))
      .groupBy(col("source"), col("block_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("block_id"))
  }

  /** Packing under the scaled tokenizer — fewer pieces per doc than
    * the toy table (256 merges compress harder), so the block
    * boundaries genuinely depend on the trained artifact. */
  def packBpeScaled(docs: DataFrame, blockTokens: Int = 512,
                    contentCol: String = "text"): DataFrame =
    packBpeBlocks(docs, ScaledMerges, blockTokens, contentCol, ScaledMaxGram)

  /** Segmentation quality of the trained merges: symbols per corpus
    * before (characters) vs after (BPE tokens), the compression
    * number a tokenizer is judged by. One aggregate over the final
    * vocabulary; corpus still touched exactly once. */
  def bpeSegmentStats(docs: DataFrame, nMerges: Int = 4,
                      contentCol: String = "text"): DataFrame = {
    val vocab = docs.sparkSession.createDataFrame(
      trainLoop(docs, nMerges, contentCol).vocab.map { case (w, f, s) => Row(w, f, s) },
      StructType(Seq(StructField("w", StringType), StructField("freq", LongType, nullable = false),
        StructField("seq", StringType))))
    val ntok = size(split(expr("trim(BOTH '|' FROM seq)"), "\\|\\|")).cast("long")
    vocab.agg(
      count(lit(1)).as("n_word_types"),
      sum(col("freq")).as("n_words"),
      sum(col("freq") * length(col("w"))).as("sym_before"),
      sum(col("freq") * ntok).as("sym_after"))
      .select(col("n_word_types"), col("n_words"), col("sym_before"), col("sym_after"),
        round(col("sym_after").cast("double") / col("sym_before"), 6).as("compression"))
  }
}
