package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE tokenizer-merge TRAINING (Sennrich, Haddow & Birch, ACL 2016) —
  * the one standard LLM-data-pipeline stage the engine counted tokens
  * for (`TextAnalysis.tokenCountBpeIsh`) but could not learn: given a
  * corpus, learn the first k byte-pair merges. The reference
  * (/root/reference/task.ts) has no analogue; round-15 verdict #2.
  *
  * Algorithm (the classic word-frequency formulation every BPE trainer
  * uses): the corpus collapses to its DISTINCT-WORD frequency table
  * first — identical words pay ONE state row per character, weighted by
  * count — then k rounds of: (1) count adjacent-symbol pairs across the
  * word table (each pair weighted by its word's corpus frequency),
  * (2) take the deterministic best pair (count DESC, left ASC, right
  * ASC — free-running BPE's arbitrary tie-break is exactly what a
  * cross-engine oracle cannot mirror), (3) merge every non-overlapping
  * occurrence greedily left-to-right. Greedy overlap resolution ("aaa"
  * under merge (a,a) → "aa"+"a", never a+"aa") is the gaps-and-islands
  * rule: among CONSECUTIVE match positions (consecutive in the live
  * sequence, not in the gapped position values), apply the merge at
  * even offsets from the island start — each applied position consumes
  * its successor, reproducing the sequential left-to-right scan exactly
  * (BpeSpec pins equality with a sequential reference implementation).
  *
  * Scale shape (the 100 TB lens): the corpus-sized work is ONE
  * tokenize + word-count pass; everything after is VOCAB-sized —
  * state rows = Σ chars over distinct words, shrinking every round.
  * Per round: one word-keyed window chain (the lead/row_number/island
  * windows all share the (w) partition and the p order, so Catalyst
  * plans ONE exchange + one sort for the lot), one map-side-combined
  * pair aggregate, and a 1-row collect (the bounded driver value —
  * the graph_pagerank nNodes precedent); state re-materializes per
  * round through [[Iterate.snap]] with superseded generations
  * freed (the iterative-operator discipline — the per-round best is
  * consumed by the NEXT round's plan, so lazy chaining is unavailable,
  * exactly Lloyd's/KCore's shape). Words as partition keys are the
  * oracle contract (cross-engine stable); a 100 TB run would key the
  * state on xxhash64(word) and keep the string only in the word table.
  *
  * Output: the learned merge table (step, l, r, merged, freq) — k rows,
  * the artifact a tokenizer ships. Oracle = the SAME k rounds unrolled
  * as plain CTE stages (no recursion needed at fixed k; the
  * graph_pagerank unrolled-iteration precedent), so the driver hash
  * pins every round's pair counts, tie-breaks, and greedy application.
  */
object BpeTrain {

  /** Learn `merges` merges from a (w, c) distinct-word frequency table.
    * Fails loudly if the corpus exhausts before `merges` rounds (no
    * adjacent pair left — a fixture problem, not a data condition to
    * silently absorb). `roundHook`, when set, receives (step, state
    * rows after the merge) — the SweepBpe measurement seam for the
    * state-shrinks-per-round claim; the count reads the freshly
    * snapped blocks, so it costs one cached scan per round and nothing
    * when unset.
    */
  def trainMerges(words: DataFrame, merges: Int,
                  roundHook: (Int, Long) => Unit = null): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = words.sparkSession
    val wOrder = Window.partitionBy(col("w")).orderBy(col("p"))
    // Each round's first (w) window rides the state's (w)-hash
    // partitioning: Iterate.snap keeps the final plan's partitioning in
    // its leaf, so the symbol state is never re-exchanged per round.
    // character seed: one row per (word, position), weighted by count —
    // already (w)-clustered by the caller's word-count aggregate
    var st = Iterate.snap(words
      .select(col("w"), col("c"),
        explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("c"), col("p"),
        col("w").substr(col("p"), lit(1)).as("t")))
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (step <- 1 to merges) {
      val best = st
        .withColumn("r", lead(col("t"), 1).over(wOrder))
        .filter(col("r").isNotNull)
        .groupBy(col("t").as("l"), col("r"))
        .agg(sum(col("c")).as("freq"))
        .orderBy(col("freq").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect() // ONE bounded row — the per-round driver value
      require(best.nonEmpty,
        s"corpus exhausted after ${step - 1} merges — no adjacent pair left")
      val (l, r, f) = (best(0).getString(0), best(0).getString(1),
        best(0).getLong(2))
      learned += ((step, l, r, l + r, f))
      val next = Iterate.snap(applyMerge(st, l, r))
      Iterate.free(st)
      st = next
      if (roundHook != null) roundHook(step, st.count())
    }
    Iterate.free(st)
    import spark.implicits._
    learned.toSeq.toDF("step", "l", "r", "merged", "freq")
  }

  /** One greedy merge application over a (w, p, t, …) symbol state —
    * the gaps-and-islands pass shared by training and ENCODING: rp is
    * the LIVE sequence index (positions gap as rows are consumed),
    * match islands are runs of consecutive rp, even offsets apply, and
    * each applied position consumes its successor. Extra columns (the
    * trainer's count) pass through untouched. Purely lazy — the encoder
    * chains k applications into ONE plan, while the trainer must
    * snapshot per round (its next best depends on this round's result).
    */
  private def applyMerge(state: DataFrame, l: String, r: String): DataFrame = {
    val wOrder = Window.partitionBy(col("w")).orderBy(col("p"))
    val others = state.columns.filterNot(Set("w", "p", "t")).toSeq
    state
      .withColumn("m", coalesce(
        col("t") === lit(l) && lead(col("t"), 1).over(wOrder) === lit(r),
        lit(false)))
      .withColumn("rp", row_number().over(wOrder))
      .withColumn("mrn", row_number().over(
        Window.partitionBy(col("w"), col("m")).orderBy(col("p"))))
      .withColumn("isl", when(col("m"), col("rp") - col("mrn")))
      .withColumn("ap", col("m") &&
        (col("rp") - min(col("rp")).over(
          Window.partitionBy(col("w"), col("isl")))) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("ap"), 1).over(wOrder), lit(false)))
      .filter(!col("consumed"))
      .select((Seq(col("w"), col("p"),
        when(col("ap"), concat(col("t"), lit(r))).otherwise(col("t")).as("t")) ++
        others.map(col)): _*)
  }

  /** ENCODE with a learned merge table: apply `merges` (ordered (l, r)
    * pairs, driver-side — a merge table is tokenizer metadata, k rows)
    * to every distinct word and return (w, n_bpe) token counts; a null
    * word gets a null count.
    *
    * Round-19 shape (optimization guide §1.2 "per-task work" after the
    * round-18 plans showed the cost was STRUCTURE, not bytes): the old
    * form chained the trainer's [[applyMerge]] k times — k × 3 window
    * partition keys = up to 3k exchanges + sorts over the symbol state
    * for ~1 MB of data (BENCH_DETAIL r18: text_bpe_encode moved 1.1 MB
    * in 99 tasks and still cost 5.5 s — pure stage latency). Encoding
    * has no per-round data dependence, so the merge table (tokenizer
    * METADATA, k rows) broadcasts and each DISTINCT word replays the k
    * merges in one row-local pass — zero exchanges, zero sorts, the
    * [[encodeWordsVocab]] per-distinct-word-UDF precedent. The replay
    * is the textbook left-to-right scan ([[referenceEncode]]'s exact
    * loop; BpeSpec pins equality, and the relational [[applyMerge]]
    * was itself spec-pinned to the same reference).
    */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val bc = words.sparkSession.sparkContext.broadcast(merges.toArray)
    val nBpe = udf { (w: String) =>
      if (w == null) null
      else {
        var toks: Vector[String] = w.map(_.toString).toVector
        bc.value.foreach { case (l, r) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
              out += l + r; i += 2
            } else { out += toks(i); i += 1 }
          }
          toks = out.toVector
        }
        java.lang.Long.valueOf(toks.length.toLong)
      }
    }
    words.select(col("w"), nBpe(col("w")).as("n_bpe"))
  }

  /** ENCODE by LONGEST MATCH against a broadcast vocabulary — the
    * PRODUCTION tokenizer shape (round-16 verdict #6): a shipped
    * tokenizer does not replay its 50k merges as 50k passes; it applies
    * the learned vocabulary (all corpus characters + every merged
    * symbol) greedily, taking the longest vocab symbol prefixing the
    * remaining word at each position — ONE pass per distinct word, no
    * chained plans, no driver actions. The vocabulary is tokenizer
    * METADATA (vocab-sized strings) and ships to executors as one
    * broadcast; the greedy scan is genuinely imperative (data-dependent
    * advance), which is the one contract a UDF exists for here — it
    * runs per DISTINCT word, never per corpus row. A position no vocab
    * symbol matches falls back to consuming one character as its own
    * token (the byte-fallback convention; on the training corpus every
    * character is in the vocab, so the fallback is dead there — but
    * defined, and mirrored in the SQL oracle's COALESCE).
    *
    * Longest-match and merge-order encoding are DIFFERENT functions in
    * general (a longer symbol can win where the merge order would have
    * split) — this is the standard serving trade, taken knowingly:
    * BpeSpec pins this form against its own sequential longest-match
    * reference, not against [[encodeWords]].
    */
  def encodeWordsVocab(words: DataFrame, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "encodeWordsVocab: empty vocabulary")
    val spark = words.sparkSession
    val vset = vocab.toSet
    val bc = spark.sparkContext.broadcast((vset, vset.map(_.length).max))
    val countTokens = udf { (w: String) =>
      val (vs, maxLen) = bc.value
      var i = 0
      var n = 0L
      while (i < w.length) {
        var l = math.min(maxLen, w.length - i)
        var step = 1 // fallback: one character, even if unknown
        while (l >= 1) {
          if (vs.contains(w.substring(i, i + l))) { step = l; l = 0 }
          else l -= 1
        }
        i += step
        n += 1
      }
      n
    }
    words.select(col("w"), countTokens(col("w")).as("n_bpe"))
  }

  /** Sequential longest-match reference (spec oracle only): what
    * [[encodeWordsVocab]]'s distributed form must reproduce.
    */
  private[graft] def referenceLongestMatch(words: Seq[String],
                                           vocab: Set[String]): Map[String, Long] = {
    val maxLen = vocab.map(_.length).max
    words.map { w =>
      var i = 0; var n = 0L
      while (i < w.length) {
        val l = (math.min(maxLen, w.length - i) to 1 by -1)
          .find(k => vocab.contains(w.substring(i, i + k))).getOrElse(1)
        i += l; n += 1
      }
      w -> n
    }.toMap
  }

  /** Sequential reference implementation (spec oracle only — driver
    * memory, never registered): the textbook per-word left-to-right
    * scan, for BpeSpec to diff the relational form against.
    */
  private[graft] def referenceMerges(words: Seq[(String, Long)],
                                     merges: Int): Seq[(Int, String, String, String, Long)] = {
    var state: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    (1 to merges).map { step =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      state.foreach { case (toks, c) =>
        toks.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      require(counts.nonEmpty, s"reference corpus exhausted at step $step")
      val ((l, r), f) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      state = state.map { case (toks, c) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
            out += l + r; i += 2
          } else { out += toks(i); i += 1 }
        }
        (out.toVector, c)
      }
      (step, l, r, l + r, f)
    }
  }

  /** Sequential reference ENCODER (spec oracle only): the textbook
    * left-to-right merge scan applied per word, returning final token
    * counts — what [[encodeWords]] must reproduce relationally.
    */
  private[graft] def referenceEncode(words: Seq[String],
                                     merges: Seq[(String, String)]): Map[String, Int] =
    words.map { w =>
      var toks: Vector[String] = w.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
            out += l + r; i += 2
          } else { out += toks(i); i += 1 }
        }
        toks = out.toVector
      }
      w -> toks.length
    }.toMap
}
