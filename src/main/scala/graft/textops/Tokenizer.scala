package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a corpus job (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units" —
  * the algorithm behind GPT-2/LLaMA-style vocabularies), plus the matching
  * apply step.
  *
  * The scale story is the classic BPE trick done distributively: merges are
  * learned over the DISTINCT-WORD FREQUENCY TABLE, not the corpus — the
  * only corpus-sized pass is the initial `groupBy(word).count()`
  * (partial-aggregated, Zipfian keys combine map-side); every merge round
  * then runs on the vocabulary table (10^8-10^9 rows at 100 TB, distributed
  * but corpus-independent). Each round is: weighted adjacent-pair count
  * (one partial-aggregated groupBy), a SINGLE-ROW argmax collect (count
  * DESC, then lexicographic — deterministic tie-break), and a row-local
  * greedy leftmost merge rewrite via the `aggregate` higher-order function.
  * The vocab table is eagerly checkpointed per round — the same
  * iterative-plan lesson as [[WebGraph.hostRank]] (a lazy loop re-codegens
  * the accumulated tree each round).
  *
  * Production vocabularies run 30k-50k merges; one driver round per merge
  * is 30k-50k sequential Spark jobs. Since r6 [[bpeTrain]] batches
  * PROVABLY-EQUIVALENT merges per round: it collects the top-K pair
  * counts, then selects the maximal sorted PREFIX of candidates that is
  * pairwise symbol-disjoint, stopping the batch at the first candidate
  * that (a) shares a symbol — including a previously CREATED merge symbol
  * — with an earlier selection, (b) ties in count with ANY pair that
  * shares a symbol with an earlier selection (a changed pair or a newly
  * created pair could then tie it and win on the lexicographic
  * tie-break), (c) falls at or below the top-K truncation boundary (its
  * tie group may be incomplete), or (d) follows a selection whose created
  * symbol already exists in the vocabulary (new occurrences of an
  * existing symbol can INCREASE later pair counts past the single-pair
  * bound). Within those guards each selected pair's count is exactly its
  * count at its sequential step and nothing can outrank it, so batched ==
  * one-merge-per-round merge-for-merge, count-for-count
  * (TokenizerSpec pins it on adversarial overlapping/tied fixtures and
  * randomized small-alphabet corpora). Early stop when the best pair
  * drops below [[BpeMinCount]] is unchanged.
  *
  * Symbols are UTF-16 code-unit strings (`split(word, "")` on both the
  * distributed and local paths — identical by construction); tokenization
  * is the shared lowercase-whitespace split of [[TextOps.keywords]].
  * Correctness contract: [[bpeTrain]] over a DataFrame equals
  * [[bpeTrainLocal]] over the same texts EXACTLY (merge-for-merge,
  * count-for-count) — the spec pins it and the generated-VALUES oracle
  * re-checks it against DuckDB's hash of the local run.
  */
object Tokenizer {

  /** Learned merge: `ix`-th rule rewrites adjacent (left, right) →
    * left+right; `pairCount` is the weighted corpus pair count that won
    * the round.
    */
  final case class Merge(ix: Int, left: String, right: String,
      pairCount: Long)

  /** Lowercased, whitespace-split, non-empty words of one text — the
    * shared word contract of both paths.
    */
  def wordsOf(text: String): Seq[String] =
    Option(text).getOrElse("").toLowerCase.split(" +").toSeq
      .filter(_.nonEmpty)

  /** Greedy leftmost non-overlapping application of ONE merge to a symbol
    * sequence ("a a a" + (a,a) → ["aa", "a"]) — the sequential reference
    * the distributed rewrite must match.
    */
  def applyMerge(
      syms: List[String], l: String, r: String): List[String] = {
    val out = List.newBuilder[String]
    var rest = syms
    while (rest.nonEmpty) rest match {
      case a :: b :: tail if a == l && b == r =>
        out += (l + r); rest = tail
      case a :: tail => out += a; rest = tail
      case Nil => ()
    }
    out.result()
  }

  /** A pair is merged only while its count reaches this. */
  val BpeMinCount = 2L

  /** Sequential reference trainer (plain Scala, no Spark): the single
    * source of truth the distributed trainer is checked against and the
    * generated-VALUES oracle is built from.
    */
  def bpeTrainLocal(texts: Seq[String], numMerges: Int): Seq[Merge] = {
    var vocab: Map[List[String], Long] = texts.flatMap(wordsOf)
      .groupBy(identity).map { case (w, ws) =>
        w.split("").toList -> ws.size.toLong
      }
    val merges = Seq.newBuilder[Merge]
    var ix = 0
    var done = false
    while (ix < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- vocab; p <- syms.zip(syms.drop(1)))
        counts(p) = counts.getOrElse(p, 0L) + n
      val best = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= BpeMinCount =>
          merges += Merge(ix, l, r, c)
          vocab = vocab.groupMapReduce(kv => applyMerge(kv._1, l, r))(_._2)(_ + _)
          ix += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** Distributed BPE training over a corpus DataFrame: returns the merge
    * table (merge_ix, left, right, pair_count), learned exactly as
    * [[bpeTrainLocal]] does. See the object scaladoc for the scale shape;
    * the per-round argmax is a bounded SINGLE-ROW collect (the IVF
    * quantizer-sample stance on driver-side data).
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus-sized pass: distinct-word frequencies
    var vocab = docs
      .select(explode(TextOps.tokenArray(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(split(col("w"), "").as("syms"), col("n"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var ix = 0
    var done = false
    // guard (d) needs the symbol inventory (a created symbol colliding
    // with an existing one can increase later pair counts past the
    // single-pair bound). Collected ONCE from the initial vocabulary
    // (bounded: |alphabet| symbols) and maintained incrementally on the
    // driver as a conservative SUPERSET — merges only ever ADD the created
    // symbol; symbols that disappear from the vocabulary stay in the set,
    // which can only stop a batch early (extra round), never mis-select.
    var symbolSet = vocab
      .select(explode(col("syms")).as("s"))
      .distinct().as[String].collect().toSet
    while (ix < numMerges && !done) {
      // one pair-count table per ROUND, consumed by a single bounded
      // TakeOrdered collect (the IVF quantizer-sample stance on
      // driver-side data): K rows, each (l, r, c)
      val counts = vocab
        // single-symbol words carry no pairs (and sequence(1, 0) would
        // flip DESCENDING — the domainEpochSample guard, applied as a
        // filter since these rows can never match a merge either)
        .filter(size(col("syms")) > 1)
        .select(explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"), col("n"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("c"))
      val (batch, roundDone) = {
          val topK = math.max(64, 4 * (numMerges - ix))
          val rows = counts
            .orderBy(col("c").desc, col("l").asc, col("r").asc)
            .limit(topK).collect()
            .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
          // counts at or below the K-th row's count may be truncated
          // mid-tie-group — candidates there are deferred to the next round
          val cLow =
            if (rows.length < topK) Long.MinValue else rows.last._3
          val sel = Seq.newBuilder[Merge]
          var used = Set.empty[String]
          var selectedPairs = Set.empty[(String, String)]
          var stop = false
          var rdone = false
          var i = 0
          while (!stop && i < rows.length && ix < numMerges) {
            val (l, r, c) = rows(i)
            val created = l + r
            if (c < BpeMinCount) { rdone = true; stop = true }
            else if (c <= cLow && rows.length == topK) stop = true
            else if (used.nonEmpty &&
              (used(l) || used(r) || used(created))) stop = true
            // guard (b): an UNSELECTED pair sharing a symbol with an
            // earlier selection and tying this candidate's count could,
            // after those merges, still tie it (changed pairs only ever
            // decrease; new pairs are bounded by such sharers) and win the
            // lexicographic tie-break — selected pairs themselves are
            // exempt (two selected merges are provably symbol-disjoint,
            // so no new-pair bound runs through them)
            else if (used.nonEmpty && rows.exists { case (ol, or, oc) =>
              oc == c && !selectedPairs((ol, or)) &&
                (ol != l || or != r) && (used(ol) || used(or))
            }) stop = true
            else {
              sel += Merge(ix, l, r, c)
              ix += 1
              used = used + l + r + created
              selectedPairs = selectedPairs + ((l, r))
              // guard (d): creating occurrences of an EXISTING symbol can
              // raise pair counts past the single-pair bound — take the
              // merge (it is still the exact argmax at its step) but end
              // the batch here
              if (symbolSet(created)) stop = true
              symbolSet = symbolSet + created
            }
            i += 1
          }
          (sel.result(), rdone || (rows.isEmpty))
      }
      done = roundDone
      if (batch.nonEmpty) {
        merges ++= batch
        // row-local greedy leftmost rewrite of the whole batch in learned
        // order — LITERALLY applyMerge per rule, the sequential reference
        // (batch merges are symbol-disjoint, so applying them in order
        // equals applying each with a recount between: see scaladoc)
        val rules = batch.map(m => (m.left, m.right))
        vocab = vocab.as[(List[String], Long)]
          .map { case (syms, n) =>
            (rules.foldLeft(syms) { case (s, (l, r)) =>
              applyMerge(s, l, r)
            }, n)
          }
          // no re-group after the rewrite: two vocab rows CAN converge to
          // the same symbol sequence (e.g. an earlier (a,bc) merge and a
          // later (ab,c) both forming "abc"), but duplicate keys are
          // harmless — pair counts are ADDITIVE over rows and the rewrite
          // is per-row, so every subsequent round computes identical
          // counts to the grouped local reference; checkpoint resets the
          // round's lineage
          .toDF("syms", "n")
          .localCheckpoint(true)
      } else if (!done) {
        // defensive: an empty batch with work remaining cannot make
        // progress (first candidate is always selected when >= BpeMinCount)
        done = true
      }
    }
    merges.result()
      .map(m => (m.ix, m.left, m.right, m.pairCount))
      .toDF("merge_ix", "left", "right", "pair_count")
  }

  /** Deterministic fixture corpus for the oracle query: repeated subword
    * structure ("ing", "th", "er" families) so the first dozen merges are
    * meaningful and stable. In-repo constant — the generated-VALUES oracle
    * runs [[bpeTrainLocal]] on exactly this value at SQL-build time.
    */
  val fixtureCorpus: Seq[String] = {
    val sents = Seq(
      "the thing sing ring bring going doing nothing",
      "there their then these those brother mother other",
      "running jumping walking talking reading leading",
      "the mother and the brother were going there",
      "better letter setter matter latter butter",
      "sing the song bring the ring do the thing",
      "reading leads to knowing and knowing to doing",
      "walk and talk then run and jump all morning")
    // cycle the base sentences with varying repetition so pair counts are
    // non-trivially weighted
    (0 until 5).flatMap(k => sents.drop(k % 3)) :+
      "zz zz zz qq qq xx"
  }

  /** Word n-gram frequency table with a minimum-count cutoff — the
    * count-collection pass of KenLM-style language-model training (Heafield
    * 2011, "KenLM: Faster and Smaller Language Model Queries") and the
    * n-gram inventory decontamination / memorization scans run against.
    *
    * Scale shape: the explode is row-local (runs inside the scan stage, no
    * shuffle, ×~|words| row blowup bounded by the chunked inputs every
    * production corpus already has); the ONE shuffle is the
    * `groupBy(gram)` — partial-aggregated, so Zipfian head grams combine
    * map-side and a hot gram reaches the reducer as one merged row per
    * partition, not a fan-in. The `minCount` HAVING-cut bounds the output
    * table (the Katz/KenLM pruning step) but deliberately runs AFTER the
    * aggregation — a pre-cut is impossible (counts aren't known until
    * aggregated) and the cut itself is a narrow post-agg filter.
    *
    * Words are the [[wordsOf]] contract (lowercase whitespace split);
    * grams join with single spaces. Documents with fewer than `n` words
    * contribute nothing (the `size >= n` filter also keeps
    * `sequence(1, len-n+1)` from flipping DESCENDING on short docs — the
    * [[bpeTrain]] guard). Counts are occurrence counts, NOT the distinct
    * per-doc counts of [[Dedup]] shingling — an LM needs multiplicity.
    */
  def ngramCounts(
      docs: DataFrame, textCol: String, n: Int,
      minCount: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = docs.sparkSession
    import spark.implicits._
    // r6: one typed flatMap instead of explode(transform(sequence …,
    // concat_ws(slice))) — higher-order functions are interpreted (the
    // langIdCol lesson) and the per-gram `slice` allocated a fresh array
    // per window; the flatMap emits each gram through one StringBuilder
    // walk. Tokenization is [[wordsOf]] — the declared plain-Scala
    // equivalent of [[TextOps.tokenArray]] (the bpeTrain ==
    // bpeTrainLocal contract rides the same equivalence), and the DuckDB
    // mirror below is unchanged, so the oracle still checks the pair.
    docs
      .select(coalesce(col(textCol), lit("")).as("t")).as[String]
      .flatMap { t =>
        val ws = wordsOf(t)
        if (ws.length < n) Iterator.empty
        else {
          val arr = ws.toArray
          (0 to arr.length - n).iterator.map { i =>
            val sb = new StringBuilder(arr(i))
            var j = i + 1
            while (j < i + n) { sb.append(' ').append(arr(j)); j += 1 }
            sb.result()
          }
        }
      }
      .toDF("gram")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
  }

  /** Gram width and count cutoff that the LM count query passes to
    * [[ngramCounts]] and that [[ngramCountsSql]] mirrors.
    */
  val NgramOrder = 3
  val NgramMinCount = 2L

  /** DuckDB mirror of [[ngramCounts]] at [[NgramOrder]]/[[NgramMinCount]] —
    * same split, same slice bounds, same cutoff.
    */
  def ngramCountsSql(table: String, textExpr: String): String = {
    val n = NgramOrder
    s"""WITH w AS (
       |  SELECT ${TextOps.tokenArraySql(textExpr)} AS ws
       |  FROM $table),
       |g AS (
       |  SELECT unnest(list_transform(
       |    generate_series(1, len(ws) - ${n - 1}),
       |    i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram
       |  FROM w WHERE len(ws) >= $n)
       |SELECT gram, CAST(count(*) AS BIGINT) AS n_occ
       |FROM g GROUP BY gram HAVING count(*) >= $NgramMinCount""".stripMargin
  }

  /** The oracle SQL for [[bpeTrain]] over [[fixtureCorpus]]: VALUES
    * generated by running the sequential reference at SQL-build time —
    * the distributed-equals-sequential contract, checked as data.
    */
  def bpeMergesSql(numMerges: Int): String = {
    val rows = bpeTrainLocal(fixtureCorpus, numMerges)
      .map(m => s"(${m.ix}, ${TextOps.sqlLit(m.left)}, " +
        s"${TextOps.sqlLit(m.right)}, ${m.pairCount})")
      .mkString(",\n  ")
    s"""SELECT CAST(merge_ix AS INT) AS merge_ix, "left", "right",
       |  CAST(pair_count AS BIGINT) AS pair_count
       |FROM (VALUES
       |  $rows) AS t(merge_ix, "left", "right", pair_count)""".stripMargin
  }
}
