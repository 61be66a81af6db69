package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016) —
  * the tokenizer-training step of an LLM data pipeline, run where the data
  * already is instead of exporting the corpus to a single-node trainer.
  *
  * Shape at scale: ONE corpus pass builds the (word, count) frequency
  * table — the only job whose cost grows with corpus size; BPE statistics
  * are a function of that table alone, and its row count is the corpus
  * VOCABULARY (bounded, near-constant once the corpus is large), so every
  * merge round runs on tiny distributed tables.
  *
  * The merge loop maintains the (l, r, n) pair-count table INCREMENTALLY
  * (the classic single-node trainer optimization, distributed): a merge
  * only changes counts of pairs adjacent to an (l, r) occurrence, so each
  * round touches the affected words alone — old adjacencies are debited,
  * new adjacencies around the merged symbol credited, and the standing
  * pair table is patched with the exact integer deltas instead of
  * re-exploding and re-aggregating the whole dict (which made the r7
  * trainer O(vocab · avgWordLen) PER ROUND and capped practical training
  * at tens of merges; thousands are now routine — see the bench 1k-merge
  * smoke). Per round: one 1-row top-pair collect (the model parameter
  * being learned — inherently driver-side) and two small materializations.
  * Both working tables are pinned as explicitly-persisted RDDs and the
  * previous round's are freed, so neither plan depth nor cached-block
  * count grows with the merge count.
  */
object Bpe {

  /** End-of-word sentinel symbol (kept distinct from any character). */
  val EndOfWord = "</w>"

  /** Pin a vocab-bounded working RDD: explicitly persisted (so the
    * previous round's copy can be FREED — bare localCheckpoint blocks
    * cannot be), lineage truncated (persist alone does NOT — without
    * this the task binary regrows every round until deserialization
    * stack-overflows, ~round 50), materialized by one action. The
    * tables are coalesced to `partsFor` partitions upstream — running
    * each merge round's jobs as 32-way task storms over a 5k-row dict
    * is pure launch overhead (measured 2.3 s/round at 32 partitions vs
    * 0.3 at 1). */
  private def pinRdd[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    rdd.count()
    rdd
  }

  /** [[pinRdd]] for the standing pair table, with the NEXT round's
    * arg-max fused into the materializing action: one `aggregate` both
    * caches the checkpoint blocks and returns the best (count desc, then
    * binary-UTF-8 lexicographic (l, r)) pair — the tie-break is
    * [[UTF8String]].compareTo, bit-identical to the DataFrame
    * `orderBy(n desc, l, r)` this replaces, so the learned table is
    * unchanged while the separate per-round top-1 job (plus its Catalyst
    * plan) disappears. */
  private def pinPairs(rdd: RDD[((String, String), Long)])
      : (RDD[((String, String), Long)], Option[((String, String), Long)]) = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    val best = rdd.aggregate(Option.empty[((String, String), Long)])(
      (acc, x) => Some(acc.fold(x)(betterPair(_, x))),
      (a, b) => (a, b) match {
        case (Some(x), Some(y)) => Some(betterPair(x, y))
        case (None, y) => y
        case (x, None) => x
      })
    (rdd, best)
  }

  /** The winner under (count desc, UTF8-binary l, UTF8-binary r) — the
    * exact ordering of `orderBy(col("n").desc, col("l"), col("r"))` over
    * StringType columns. */
  private def betterPair(
      a: ((String, String), Long),
      b: ((String, String), Long)): ((String, String), Long) = {
    import org.apache.spark.unsafe.types.UTF8String
    if (a._2 != b._2) { if (a._2 > b._2) a else b }
    else {
      val cl = UTF8String.fromString(a._1._1)
        .compareTo(UTF8String.fromString(b._1._1))
      if (cl != 0) { if (cl < 0) a else b }
      else if (UTF8String.fromString(a._1._2)
        .compareTo(UTF8String.fromString(b._1._2)) <= 0) a
      else b
    }
  }

  /** Adjacent symbol pairs of one segmentation, in order, with
    * multiplicity — the unit of BPE statistics. */
  private def adjArr(s: Array[String]): Iterator[(String, String)] =
    if (s.length < 2) Iterator.empty
    else (0 until s.length - 1).iterator.map(j => (s(j), s(j + 1)))

  private def hasPairArr(s: Array[String], l: String, r: String): Boolean = {
    var j = 0
    while (j < s.length - 1) {
      if (s(j) == l && s(j + 1) == r) return true
      j += 1
    }
    false
  }

  /** One greedy left-to-right merge pass — the compiled twin of
    * [[mergeOnce]]'s fold (append each symbol, collapsing into the
    * accumulator's tail when (tail, symbol) == (l, r); the collapsed
    * product itself participates as the new tail, so e.g. "aaa" under
    * ("a","a") yields ["aa","a"]). */
  private[operators] def mergeOnceArr(
      s: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      val x = s(i)
      if (out.nonEmpty && out(out.length - 1) == l && x == r)
        out(out.length - 1) = l + r
      else out += x
      i += 1
    }
    out.toArray
  }

  /** Partition count for a vocab-bounded working table: ~1 per 100k rows,
    * capped — keeps small dicts single-task and million-word dicts
    * parallel. */
  private def partsFor(rows: Long): Int =
    math.max(1L, math.min(64L, rows / 100000L)).toInt

  /** Learn `numMerges` merges from the corpus. Deterministic: ties on the
    * pair count break lexicographically on (left, right), so the merge
    * table reproduces run-over-run and partition-over-partition.
    *
    * @param minCount stop early when the best pair occurs fewer times
    * @return merges in rank order, e.g. `("e","s") :: ("es","t") :: …` */
  def trainMerges(
      docs: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      minCount: Long = 2L,
      localThreshold: Long = 2000000L): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    // the one corpus-sized job: normalized word frequencies. Persisted:
    // the census is read twice (count to pick the local-vs-distributed
    // path, then collect or the initial-dict build) and without the
    // persist EACH read re-runs the corpus scan + explode + aggregation
    // — the only corpus-sized work in the trainer, paid double for a
    // vocab-sized result (guide §1.2: don't compute things twice).
    // The cached table is the VOCABULARY (model-sized, bounded), never
    // the corpus.
    val words = docs
      .select(explode(split(TextOps.normalize(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the dict row count is the corpus VOCABULARY — a model-sized table,
    // not a data-sized one (the same adjudication as k-means centroids
    // and Dedup.connectedComponents' localThreshold union-find): when it
    // fits comfortably on the driver, the merge loop runs there against
    // in-memory pair indexes — thousands of merges in seconds — and the
    // cluster is only used for the corpus-sized counting pass (and for
    // scan-speed tokenize afterwards). The distributed incremental loop
    // below is the giant-vocab / forced (localThreshold=0) path.
    val vocab = words.count()
    if (vocab <= localThreshold && vocab > 0) {
      val w = words.collect().map(r => (r.getString(0), r.getLong(1)))
      words.unpersist(false)
      return trainMergesLocal(w, numMerges, minCount)
    }
    val dictParts = partsFor(vocab)
    // initial segmentation: characters + the end-of-word sentinel. The
    // split stays in DataFrame land (Spark's split("") walks code
    // points — per-char Scala iteration would shear surrogate pairs),
    // then the merge loop runs as COMPILED RDD rounds: the r14 shape
    // paid ~3 Catalyst-planned jobs per round (top-1 collect + two pin
    // counts) of interpreted HOF evaluation over a vocab-bounded,
    // often single-partition dict — pure planning/launch overhead
    // (guide §1.2 step 2: once the distributed shape is right, make the
    // per-round work compiled; the 2M×100-merge smoke measured 79.6 →
    // 38.1 s cold-harness and 31.96 → 13.63 s in the full-protocol
    // bench pair). The arg-max rides the pairs materialization (pinPairs)
    // and the dict materialization rides the same job (deltas are
    // derived through the persisted new dict), so a round is ONE job.
    var dictRdd = pinRdd(words
      .select(concat(split(col("w"), ""), array(lit(EndOfWord))).as("syms"),
        col("cnt"))
      .coalesce(dictParts)
      .rdd.map(r => (r.getSeq[String](0).toArray, r.getLong(1))))
    words.unpersist(false) // dict is pinned; the census is no longer read
    // standing pair counts — built ONCE by full aggregation, then patched
    // with per-merge deltas (exact integer sums: commutative, so the
    // reduceByKey order is immaterial)
    var (pairsRdd, best) = pinPairs(dictRdd
      .flatMap { case (s, c) => adjArr(s).map(p => (p, c)) }
      .reduceByKey(_ + _, dictParts))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var round = 0
    var done = false
    // thread-local, read at RDD construction: makes the round's ONE
    // action (pinPairs' aggregate) also finalize the mid-lineage
    // newDict localCheckpoint — without it doCheckpoint stops at the
    // terminal marked RDD, the dict lineage never truncates, and the
    // task binary regrows every round (the ~round-50 stack overflow)
    val sc = docs.sparkSession.sparkContext
    val ckptAll = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevCkptAll = sc.getLocalProperty(ckptAll)
    sc.setLocalProperty(ckptAll, "true")
    // the round in flight's persisted RDDs, freed in the finally if its
    // action throws (the standing tables are freed there on every exit)
    var inFlight: Seq[RDD[_]] = Nil
    try while (round < numMerges && !done) {
      best match {
        // deterministic top pair: count, then binary-lexicographic (l, r)
        case None => done = true
        case Some((_, n)) if n < minCount => done = true
        case Some(((l, r), _)) =>
          merges += ((l, r))
          val newDict = dictRdd.map { case (s, c) =>
            (if (hasPairArr(s, l, r)) mergeOnceArr(s, l, r) else s, c)
          }
          newDict.persist(StorageLevel.MEMORY_AND_DISK)
          newDict.localCheckpoint()
          // exact count deltas from the affected words alone: debit every
          // old adjacency, credit every new one (multiplicities included —
          // the reduceByKey sums them). Routed THROUGH the persisted
          // newDict (zipped with the old dict — map preserves partition
          // count and row order, so the zip is positional identity): the
          // one pairs-materializing job then also computes and caches
          // every newDict block and finalizes its checkpoint, so a round
          // costs ONE tiny job, not three.
          val deltas = newDict.zipPartitions(dictRdd) { (nIt, oIt) =>
            nIt.zip(oIt).flatMap { case ((ns, _), (s, c)) =>
              if (!hasPairArr(s, l, r)) Iterator.empty
              else adjArr(s).map(p => (p, -c)) ++ adjArr(ns).map(p => (p, c))
            }
          }
          val newPairs = pairsRdd.union(deltas)
            .reduceByKey(_ + _, dictParts)
            .filter(_._2 > 0)
          inFlight = Seq(newDict, newPairs)
          best = pinPairs(newPairs)._2
          pairsRdd.unpersist(false); dictRdd.unpersist(false)
          pairsRdd = newPairs; dictRdd = newDict
          inFlight = Nil
          round += 1
      }
    } finally {
      sc.setLocalProperty(ckptAll, prevCkptAll)
      (inFlight :+ pairsRdd :+ dictRdd).foreach(_.unpersist(false))
    }
    merges.toSeq
  }

  /** Driver-local incremental trainer over the collected vocab — the
    * fast path when the dict fits on the driver (it is model-sized:
    * corpus vocabulary, not corpus rows). Same algorithm as the
    * distributed loop: standing pair counts patched with exact per-merge
    * deltas from affected words only, best pair by (count desc, then
    * lexicographic (l, r)). An occurrence index (pair → word ids) makes
    * each round O(affected words · word length) plus one O(#pairs) scan
    * for the arg-max; thousands of merges run in seconds. Tie-break uses
    * Java string order — identical to the distributed path's UTF8String
    * binary order except for supplementary-plane characters tied at
    * equal counts (UTF-16 vs UTF-8 code-unit order), a divergence no
    * realistic corpus hits. */
  private[operators] def trainMergesLocal(
      words: Array[(String, Long)],
      numMerges: Int,
      minCount: Long): Seq[(String, String)] = {
    import scala.collection.mutable
    val syms = words.map { case (w, _) =>
      val b = mutable.ArrayBuffer[String]()
      // CODE POINTS, not UTF-16 units — the distributed path's
      // `split(w, "")` and the apply kernel's `codePointAt` walk are both
      // code-point based; per-char iteration here would learn merges
      // containing lone surrogate halves for supplementary-plane
      // characters (emoji, rare CJK) that segmentation can never match
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b += EndOfWord
      b
    }
    val cnts = words.map(_._2)
    val counts = mutable.HashMap[(String, String), Long]()
    val occurs = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    def wordPairs(s: mutable.ArrayBuffer[String]): Seq[(String, String)] = {
      val out = new mutable.ArrayBuffer[(String, String)](s.length)
      var j = 0
      while (j < s.length - 1) { out += ((s(j), s(j + 1))); j += 1 }
      out.toSeq
    }
    def credit(p: (String, String), d: Long): Unit = {
      val nv = counts.getOrElse(p, 0L) + d
      if (nv == 0L) counts.remove(p) else counts(p) = nv
    }
    for (i <- syms.indices; p <- wordPairs(syms(i))) {
      credit(p, cnts(i))
      occurs.getOrElseUpdate(p, mutable.HashSet[Int]()) += i
    }
    def mergeInPlace(i: Int, l: String, r: String): Unit = {
      val s = syms(i)
      val out = new mutable.ArrayBuffer[String](s.length)
      s.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r)
          out(out.length - 1) = l + r
        else out += x
      }
      syms(i) = out
    }
    val merges = mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (merges.size < numMerges && !done) {
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), m) => (-m, a, b) }
        if (n < minCount) done = true
        else {
          merges += ((l, r))
          val affected = occurs.getOrElse((l, r), mutable.HashSet[Int]()).toArray
          for (i <- affected) {
            val old = wordPairs(syms(i))
            old.foreach(credit(_, -cnts(i)))
            old.distinct.foreach { p =>
              occurs.get(p).foreach { s => s -= i; if (s.isEmpty) occurs.remove(p) }
            }
            mergeInPlace(i, l, r)
            val now = wordPairs(syms(i))
            now.foreach(credit(_, cnts(i)))
            now.distinct.foreach(p =>
              occurs.getOrElseUpdate(p, mutable.HashSet[Int]()) += i)
          }
        }
      }
    }
    merges.toSeq
  }

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array — the same scan order the reference BPE algorithm uses, as a
    * fold: append each symbol, collapsing it into the accumulator's tail
    * when (tail, symbol) == (l, r). `get` (not `element_at`) keeps the
    * empty-accumulator probe NULL-safe under ANSI mode. */
  private def mergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Segment one word (no whitespace) with a learned merge table: char
    * split + sentinel, then the merges replayed in rank order. The merge
    * loop unrolls at plan-build time — fine for tens of merges (and kept
    * as the pure-Catalyst reference the kernel path is pinned against);
    * [[tokenize]] switches to the single-expression
    * `TextKernels.bpeSegmentCol` kernel beyond that, which applies
    * thousand-rank production tables at scan speed. */
  def segmentCol(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(concat(split(word, ""), array(lit(EndOfWord)))) {
      case (syms, (l, r)) => mergeOnce(syms, l, r)
    }

  /** Tokenize a corpus with a learned merge table: adds `outCol` =
    * flattened BPE pieces of the normalized text. Scan-speed (per-row
    * expressions only), one scan, no shuffle.
    *
    * Always the [[graft.functions.TextKernels.bpeSegmentCol]] single-pass
    * kernel (min-rank greedy apply). The pure-Catalyst fold unrolling
    * ([[segmentCol]], one nested `aggregate` HOF per rank) is kept as the
    * reference implementation the kernel is spec-pinned against, but it
    * no longer serves production tokenize at ANY table size: nested
    * `aggregate` HOFs are interpreted (never whole-stage-codegen'd), so
    * even an 8-rank table paid ~10× per row over the compiled kernel —
    * r14 measured q_train_pipeline, whose plan tokenizes the corpus on
    * both sides of the packing join, at 17 s quiet-box with the fold vs
    * ~3 s with the kernel (guide §1.2 step 2 / §4.1: prefer compiled
    * kernels over interpreted expression trees in the hot path).
    *
    * The two algorithms are equivalent only for WELL-FORMED tables — ones
    * where each merge's symbols are derivable from earlier ranks, which
    * is what [[trainMerges]] produces by construction. A hand-crafted
    * table whose later-rank product participates in an earlier-rank pair
    * (e.g. rank 1 = ("bc","d") with "bc" only produced by rank 2) can
    * segment differently under min-rank apply vs rank-order replay: pass
    * trained tables only (contract unchanged — the old ≤16 fold path had
    * the same caveat in reverse). */
  def tokenize(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      outCol: String = "bpe_pieces"): DataFrame =
    docs.withColumn(outCol, graft.functions.TextKernels.bpeSegmentCol(
      TextOps.normalize(col(textCol)),
      merges.map(_._1), merges.map(_._2), EndOfWord))

  /** The learned merge table as a DataFrame (rank, left, right) — the
    * exportable artifact, and the Verify surface for the trainer. */
  def mergesDf(
      docs: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      minCount: Long = 2L,
      localThreshold: Long = 2000000L): DataFrame = {
    val m = trainMerges(docs, numMerges, textCol, minCount, localThreshold)
    val spark = docs.sparkSession
    import spark.implicits._
    m.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "left", "right")
  }

  /** The tokenizer vocabulary implied by a corpus + merge table: every
    * symbol [[tokenize]] can emit — id 0 = `<unk>`, then the corpus's
    * base alphabet (distinct initial symbols incl. the end-of-word
    * sentinel, in lexicographic order), then merge products in rank
    * order. This is the (token_id, token) table exported next to the
    * merge table so downstream training consumes integer ids; ids are
    * stable for a fixed (corpus alphabet, merges) pair. The alphabet
    * job is one distinct over exploded characters — corpus-scan-sized,
    * vocabulary-sized output. */
  def vocab(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text"): Seq[String] = {
    val alphabet = docs
      .select(explode(split(regexp_replace(
        TextOps.normalize(col(textCol)), " ", ""), "")).as("ch"))
      .filter(col("ch") =!= "")
      .distinct()
      .orderBy("ch")
      .collect().map(_.getString(0)).toSeq
    // dedupe: two merges can concatenate to the same product (("a","bc")
    // and ("ab","c") both yield "abc") — keep the first occurrence so
    // (token_id, token) stays a bijection and ids round-trip 1:1
    (("<unk>" +: alphabet :+ EndOfWord) ++
      merges.map { case (l, r) => l + r }).distinct
  }

  /** [[vocab]] as a DataFrame (token_id, token). */
  def vocabDf(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    vocab(docs, merges, textCol).zipWithIndex
      .map { case (t, i) => (i, t) }
      .toDF("token_id", "token")
  }

  /** Tokenize straight to integer ids — the form training-data prep
    * actually ships: [[tokenize]]'s pieces mapped through the vocab as a
    * single map-literal lookup inside the same scan (no join, no
    * shuffle; the vocab is model-sized and rides in the plan). Symbols
    * outside the vocab (characters unseen at vocab-build time) map to
    * id 0 = `<unk>`. */
  def tokenizeIds(
      docs: DataFrame,
      merges: Seq[(String, String)],
      vocab: Seq[String],
      textCol: String = "text",
      outCol: String = "token_ids"): DataFrame = {
    require(vocab.nonEmpty && vocab.head == "<unk>",
      "vocab must start with the <unk> token (build it with Bpe.vocab)")
    val lookup = typedLit(vocab.zipWithIndex.toMap)
    // collision-free staging column: an input that already carries the
    // staging name must survive the round trip untouched
    val tmp = Iterator.iterate("__pieces")(_ + "_")
      .dropWhile(docs.columns.contains).next()
    tokenize(docs, merges, textCol, tmp)
      .withColumn(outCol,
        transform(col(tmp), p => coalesce(element_at(lookup, p), lit(0))))
      .drop(tmp)
  }

  // ------------------------------------------------------- byte-level mode

  /** Normalized text in the byte-proxy alphabet — the byte-level-BPE
    * (GPT-2-style) input representation: every UTF-8 byte becomes one
    * proxy character ([[graft.functions.TextKernels.byteProxy]] — space
    * and printable ASCII are themselves, everything else lands in the
    * Private Use Area, which `normalize` treats as identity), so the
    * char-level trainer/tokenizer machinery runs unchanged over bytes and
    * OOV becomes impossible: the base alphabet is exactly the 256 bytes. */
  def byteProxyText(text: Column): Column =
    graft.functions.TextKernels.byteProxyCol(TextOps.normalize(text))

  private def proxyTmp(docs: DataFrame): String =
    Iterator.iterate("__bytes")(_ + "_")
      .dropWhile(docs.columns.contains).next()

  /** [[trainMerges]] over the byte-proxy representation: merges are byte
    * sequences (as proxy strings), starting from single bytes. */
  def trainMergesBytes(
      docs: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      minCount: Long = 2L,
      localThreshold: Long = 2000000L): Seq[(String, String)] = {
    val tmp = proxyTmp(docs)
    trainMerges(docs.withColumn(tmp, byteProxyText(col(textCol))),
      numMerges, tmp, minCount, localThreshold)
  }

  /** The byte-mode vocabulary: `<unk>` (id 0, kept for API compatibility —
    * byte fallback makes it unreachable), the 255 non-space byte proxies
    * in lexicographic order, the end-of-word sentinel, then merge products
    * in rank order. No corpus scan: the alphabet IS the byte range. */
  def byteVocab(merges: Seq[(String, String)]): Seq[String] = {
    val alphabet = (0 to 255).filter(_ != 0x20).map { b =>
      (if (b >= 0x21 && b <= 0x7E) b.toChar else (0xE000 + b).toChar).toString
    }.sorted
    (("<unk>" +: alphabet :+ EndOfWord) ++
      merges.map { case (l, r) => l + r }).distinct
  }

  /** [[tokenizeIds]] over the byte-proxy representation with the full
    * byte alphabet ([[byteVocab]]) — id 0 (`<unk>`) can never be emitted,
    * for ANY input: unseen characters decompose into known bytes. The
    * original text column is untouched; pieces decode back to bytes via
    * [[graft.functions.TextKernels.byteUnproxy]]. */
  def tokenizeIdsBytes(
      docs: DataFrame,
      merges: Seq[(String, String)],
      vocab: Seq[String],
      textCol: String = "text",
      outCol: String = "token_ids"): DataFrame = {
    val tmp = proxyTmp(docs)
    tokenizeIds(docs.withColumn(tmp, byteProxyText(col(textCol))),
      merges, vocab, tmp, outCol).drop(tmp)
  }

  /** [[tokenize]] over the byte-proxy representation (pieces are proxy
    * strings; the original text column is untouched). */
  def tokenizeBytes(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      outCol: String = "bpe_pieces"): DataFrame = {
    val tmp = proxyTmp(docs)
    tokenize(docs.withColumn(tmp, byteProxyText(col(textCol))),
      merges, tmp, outCol).drop(tmp)
  }

  /** Tokenizer FERTILITY audit — tokens/word and chars/token per group,
    * the standard tokenizer-health table a vocab-size or multilingual-
    * balance review reads (fertility ≫ 1 on a language means the
    * tokenizer shreds it into many pieces — that language pays more
    * sequence length per sentence; chars/token is the compression read).
    * `tokens` is any per-document token-count Column — `size(col(
    * "token_ids"))` over a real [[tokenizeIdsBytes]] run, or the
    * [[graft.operators.TextOps.tokenCountBpe]] heuristic when no trained
    * tokenizer is at hand; words are whitespace tokens, chars count
    * non-whitespace (whitespace is formatting, not payload).
    *
    * Scale: one scan computing three longs per row, one partial-agg
    * groupBy on the (low-cardinality) group keys — map-side combine
    * collapses everything before the shuffle. Zero-word or zero-token
    * groups yield null ratios rather than dividing by zero.
    *
    * @return groupCols + (n_docs, n_words, n_tokens, n_chars,
    *         tokens_per_word, chars_per_token) */
  def fertilityReport(
      docs: DataFrame,
      tokens: Column,
      groupCols: Seq[String] = Nil,
      textCol: String = "text"): DataFrame = {
    val words = TextOps.tokenCount(coalesce(col(textCol), lit("")))
    val chars = length(regexp_replace(coalesce(col(textCol), lit("")),
      "\\s", ""))
    val keyed =
      if (groupCols.nonEmpty) docs
      else docs.withColumn("corpus", lit("corpus"))
    val keys = if (groupCols.nonEmpty) groupCols else Seq("corpus")
    keyed
      .select(keys.map(col) ++ Seq(
        coalesce(tokens.cast("long"), lit(0L)).as("__t"),
        words.cast("long").as("__w"), chars.cast("long").as("__c")): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
        round(sum(col("__t")).cast("double") /
          when(sum(col("__w")) > 0, sum(col("__w"))), 6).as("tokens_per_word"),
        round(sum(col("__c")).cast("double") /
          when(sum(col("__t")) > 0, sum(col("__t"))), 6).as("chars_per_token"))
  }

  /** Tokenizer A/B audit — the one-call selection table a vocab-size /
    * tokenizer review reads: one [[fertilityReport]] row per variant
    * over the SAME corpus (so n_docs/n_words/n_chars agree and only the
    * token economics differ), labeled, plus each variant's
    * model-reported mean NLL per word where its model defines one
    * ([[Unigram.corpusNll]]; merge-table BPE has no probability model —
    * NULL there, by design, not omission). Cost: one aggregation scan
    * per variant over already-tokenized columns; the expensive part
    * (tokenization itself) is whatever the caller already computed.
    *
    * @param variants (label, per-doc token count column, optional
    *                 model NLL/word) — e.g.
    *                 `("bpe", size($"bpe_pieces"), None)` */
  def abReport(
      docs: DataFrame,
      variants: Seq[(String, Column, Option[Double])],
      textCol: String = "text"): DataFrame = {
    require(variants.nonEmpty, "need at least one tokenizer variant")
    variants.map { case (label, tokens, nll) =>
      fertilityReport(docs, tokens, Nil, textCol)
        .drop("corpus")
        .withColumn("tokenizer", lit(label))
        .withColumn("nll_per_word",
          nll.map(v => round(lit(v), 6)).getOrElse(lit(null).cast("double")))
        .select("tokenizer", "n_docs", "n_words", "n_tokens", "n_chars",
          "tokens_per_word", "chars_per_token", "nll_per_word")
    }.reduce(_ unionByName _)
  }
}
