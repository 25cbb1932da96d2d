package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for pretraining pipelines, one granularity
  * level below [[DedupOps]]'s whole-document dedup:
  *
  *  - repeated-substring detection/removal (token k-gram windows that recur
  *    across the corpus, merged into maximal spans — the "exact substring
  *    deduplication" step of training-data curation, approximated at window
  *    granularity so it distributes as hash joins instead of a suffix
  *    array);
  *  - corpus-composition reporting and deterministic mixture resampling
  *    (hit a target source/language mixture exactly, without upsampling);
  *  - sequence packing (concat-and-chunk token budgeting for training
  *    loaders), bucketed so the running-offset window never needs a global
  *    sort.
  *
  * Everything is expressed as joins + window functions over hashes, so the
  * shuffled payloads are `(id, pos, hash)` triples — never the text. The
  * reference has no counterpart for any of these (its corpus work stops at
  * word/pair counting); they extend the same tokenize/hash machinery
  * (TextOps.tokens, ShingleHash64) that backs the gated dedup family.
  */
object CurationOps {

  /** Occurrences of token `k`-gram windows whose corpus-wide occurrence
    * count is at least `minCount`: one row per (id, pos) window instance,
    * with the window hash and its global count.
    *
    * Scale shape: ShingleHash64 emits the per-doc hash array in one kernel
    * call (no per-window md5 lambdas); posexplode shuffles only
    * `(id, pos, h)`. The count relation is filtered to recurring hashes
    * BEFORE the join back, so the join's build side holds only duplicated
    * windows (on a clean corpus: tiny; on a duplicate-heavy one:
    * proportional to the duplication actually present). A pathological
    * single k-gram repeated millions of times is one hot join key — the
    * join is an equi-join, so AQE skew splitting applies.
    */
  def duplicateWindows(df: DataFrame, idCol: String, textCol: String,
                       k: Int, minCount: Int = 2): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val toks = TextOps.tokens(col(textCol))
    // shorter docs have no length-k window (the kernel would emit one
    // whole-doc shingle for them — not a window; exclude up front)
    val wins = df
      .select(col(idCol), toks.as("toks"))
      .where(size(col("toks")) >= k)
      .select(col(idCol),
        posexplode(DedupOps.shingleHashes64(col("toks"), k, distinct = false)))
      .withColumnRenamed("col", "h")
    val hot = wins.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= minCount)
    wins.join(hot, "h").select(col(idCol), col("pos"), col("h"), col("n_occ"))
  }

  /** Merge a set of window instances `(id, pos)` into maximal spans:
    * windows at positions p < q belong to the same span when q <= p + k
    * (overlapping or exactly adjacent in the token stream). Returns
    * (id, span_start, span_end, n_windows) with span bounds in token
    * positions, end inclusive.
    *
    * Classic gaps-and-islands over a per-document window — partitioned by
    * document, so no partition outgrows a document's own window count.
    */
  private def mergeSpans(wins: DataFrame, idCol: String, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    wins
      .withColumn("gap",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1).otherwise(lit(0)))
      .withColumn("island",
        sum(col("gap")).over(byDoc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Maximal repeated spans per document: all token ranges covered by
    * k-gram windows that occur at least `minCount` times corpus-wide,
    * overlapping/adjacent windows merged. `span_start`/`span_end` are
    * 0-based token positions, end inclusive.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minCount: Int = 2): DataFrame =
    mergeSpans(duplicateWindows(df, idCol, textCol, k, minCount), idCol, k)

  /** Remove all-but-first occurrences of repeated k-gram windows and
    * report the per-document effect: (id, n_tokens, n_removed,
    * clean_digest) where clean_digest = md5 of the surviving tokens joined
    * by single spaces (the rewritten document body, digested so the result
    * relation stays narrow).
    *
    * Keep-first policy: for each repeated window hash the globally first
    * occurrence — minimum (id, pos) — survives; every other occurrence's
    * token range is removed. Deterministic by construction: no ordering
    * dependence beyond the (id, pos) total order.
    *
    * Scale shape: only the duplicate-window relation (bounded by actual
    * duplication) flows through span-merge and position expansion; the
    * full corpus is touched by exactly one hash semi/anti join on the
    * document id — unaffected documents never tokenize-explode, they take
    * the per-row digest path. Span expansion emits one row per REMOVED
    * token (spans are disjoint after the merge), not k rows per window.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minCount: Int = 2): DataFrame = {
    val wins = duplicateWindows(df, idCol, textCol, k, minCount)
    // survivor per hash = first (id, pos). min(struct) aggregates partially
    // (map-side combine) where a row_number window over h would pack every
    // occurrence of one boilerplate k-gram into a single window partition;
    // the equi-join back on h is AQE-skew-splittable.
    //
    // The keeper relation is ONE ROW PER RECURRING HASH — tiny at any
    // duplication level — while its lineage is two full corpus scans
    // (window stream + hot-hash build). Materialize it so the removals
    // join does not replay those scans. (Profiled at the 100x fixture:
    // materializing `wins` itself — the full duplicate-window STREAM —
    // measured 2-3x WORSE than recomputing it, 125 s vs 52 s single-run,
    // because at 100x duplication that stream IS the corpus; the keeper
    // aggregate is the right boundary, not the stream. Together with the
    // single-shuffle rmArr below and Bench/Verify's 512k split sizing,
    // the query's 100x median went 84.9 s -> 41.7 s.)
    val keepers = wins.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("keeper"))
      .localCheckpoint()
    val removals = wins.join(keepers, "h")
      .where(struct(col(idCol), col("pos")) =!= col("keeper"))
      .select(col(idCol), col("pos"))
    // Removed token positions, ONE ARRAY PER AFFECTED DOCUMENT, in a
    // single groupBy(id) shuffle: collect the doc's removal window
    // positions sorted, then fold the [p, p+k-1] ranges into their
    // clipped union with a per-row `aggregate` — the same maximal-span
    // merge as [[mergeSpans]] (ranges at q <= p + k overlap or touch),
    // without the window-sort shuffle, the span explode, and the second
    // regroup that [[mergeSpans]]-then-explode-then-collect would cost on
    // a removal stream that is corpus-sized at heavy duplication.
    val rmArr = removals.groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col(idCol), aggregate(
        col("ps"),
        struct(lit(-1).as("last"), array().cast("array<integer>").as("acc")),
        (st, p) => {
          val start = greatest(p, st.getField("last") + 1)
          val end = p + lit(k - 1)
          struct(end.as("last"),
            when(start <= end,
              concat(st.getField("acc"), sequence(start, end)))
              .otherwise(st.getField("acc")).as("acc"))
        },
        st => st.getField("acc")).as("rm"))

    val base = df.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
    // kept token positions = [0, n) \ rm, in order (array_except keeps
    // left-operand order); a fully-removed doc yields the empty body and
    // md5("") — the old `emptied` branch — and an untouched doc (rm NULL
    // -> empty array) keeps everything — the old `untouched` branch.
    val idxs = when(size(col("toks")) === 0,
        array().cast("array<integer>"))
      .otherwise(sequence(lit(0), size(col("toks")) - 1))
    val keptToks = transform(
      array_except(idxs, coalesce(col("rm"), array().cast("array<integer>"))),
      i => element_at(col("toks"), i + 1))
    base.join(rmArr, Seq(idCol), "left_outer")
      .select(col(idCol), size(col("toks")).cast("long").as("n_tokens"),
        keptToks.as("kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_digest"))
  }

  /** Corpus-composition report: per group (e.g. source x language) the
    * document count, token count, character count, and this group's share
    * of each total. The over()-windows run on the aggregated relation —
    * group-cardinality rows, not corpus rows — so the empty partition is a
    * driver-sized concern, not a scale one.
    */
  def mixtureReport(df: DataFrame, textCol: String,
                    groupCols: Seq[String]): DataFrame = {
    val everything = Window.partitionBy()
    df.select(groupCols.map(col) :+
        size(TextOps.tokens(col(textCol))).cast("long").as("n_toks") :+
        length(col(textCol)).cast("long").as("n_chars"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("doc_share",
        round(col("n_docs") / sum(col("n_docs")).over(everything), 6))
      .withColumn("token_share",
        round(col("n_tokens") / sum(col("n_tokens")).over(everything), 6))
  }

  /** Deterministic mixture resampling: keep a maximal subset of the corpus
    * whose `groupCol` composition matches `targets` exactly, without
    * upsampling any group. Groups absent from `targets` (or with target 0)
    * are dropped entirely.
    *
    * Quota math (all relational — no driver round trip): with group counts
    * c_g and target weights t_g, the largest downsample-only total is
    * M = min_g c_g / t_g, and each group keeps floor(t_g * M) documents —
    * the group attaining the min keeps (almost) everything, every other
    * group downsamples to match. Selection within a group is by md5 rank
    * (PipelineOps-style 60-bit hash, ties broken by id), so membership is
    * stable under re-runs, retries, and corpus re-partitioning.
    *
    * Scale shape: the quota relation is group-cardinality-sized (its
    * window/crossJoin cost is nil); the corpus pays one row_number window
    * partitioned by group. A group holding most of the corpus makes that
    * window partition hot — mitigate upstream by splitting the group key
    * (e.g. source -> source x shard) and dividing its target evenly.
    */
  def mixtureResample(df: DataFrame, idCol: String, groupCol: String,
                      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(_ >= 0), "target weights must be >= 0")
    val tMap = typedLit(targets.filter(_._2 > 0))
    val withT = df
      .withColumn("t", element_at(tMap, col(groupCol)))
      .where(col("t").isNotNull)
    val quotas = withT.groupBy(col(groupCol))
      .agg(count(lit(1)).as("c"), first(col("t")).as("t"))
      .withColumn("m", min(col("c") / col("t")).over(Window.partitionBy()))
      .select(col(groupCol),
        floor(col("t") * col("m")).cast("long").as("quota"))
    val byGroup = Window.partitionBy(col(groupCol))
      .orderBy(PipelineOps.hash60(col(idCol).cast("string")), col(idCol))
    withT.withColumn("rk", row_number().over(byGroup).cast("long"))
      .join(quotas, groupCol)
      .where(col("rk") <= col("quota"))
      .select(col(idCol), col(groupCol), col("rk"))
  }

  /** End-to-end curation composition (the `curate` CLI verb's engine and
    * the q_curate gate): exact dedup → near-dup cluster removal → token
    * floor → benchmark decontamination → optional mixture resample.
    *
    * Returns the surviving rows (all original columns) plus the per-stage
    * audit counts — the first thing an operator reads when a run looks
    * wrong. Every stage materializes once ([[Observed.checkpoint]]), its
    * audit count observed by that same job, so the next stage reads the
    * materialized rows and the lineage does not re-run every upstream
    * kernel per stage; at 100 TB each
    * boundary is also where a real pipeline would persist to storage.
    * All stages are deterministic (md5-keyed), so the composition is
    * hash-gated end-to-end against a DuckDB oracle that chains the same
    * five relational stages.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             minTokens: Option[Int] = None,
             benchmark: Option[DataFrame] = None,
             maxContamination: Double = 0.5,
             resampleTargets: Map[String, Double] = Map.empty,
             resampleGroupCol: String = "source",
             shingleN: Int = 3, minhashK: Int = 12, bands: Int = 4,
             threshold: Double = 0.5,
             qualityModel: Option[(Array[Double], Double)] = None)
      : (DataFrame, Seq[(String, Long)]) = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def record(name: String, d: DataFrame): DataFrame = {
      val (kept, n) = Observed.checkpoint(d, count(lit(1)))
      stages += name -> n.getLong(0)
      kept
    }
    var cur = record("input", docs)
    cur = record("exact_dedup",
      DedupOps.exactDedup(cur, idCol, md5(col(textCol)))
        .where(!col("is_dup")).drop("fp", "canonical_id", "is_dup"))
    // nearDupClusters labels only docs appearing in a near-dup pair, so
    // keep = everything minus the non-canonical members (anti join — an
    // inner join on canonicals would drop every unpaired doc)
    val dups = DedupOps.nearDupClusters(cur, idCol, textCol,
        shingleN, minhashK, bands, threshold)
      .where(!col("is_canonical"))
      .select(col("doc_id").as("__drop"))
    cur = record("near_dedup",
      cur.join(dups, cur(idCol) === col("__drop"), "left_anti"))
    minTokens.foreach { mt =>
      cur = record("quality",
        cur.where(size(TextOps.tokens(col(textCol))) >= mt))
    }
    // learned-filter stage: score under a STORED LR model (trained once
    // on a labeled seed set, [[ClassifierOps.trainLogReg]]) and keep docs
    // at or above the probability floor
    qualityModel.foreach { case (weights, minProb) =>
      val scored = ClassifierOps.scoreLogReg(cur.select(col(idCol),
          col(textCol)), idCol, textCol, weights)
        .where(col("prob") >= minProb)
        .select(col(idCol).as("__keep"))
      cur = record("quality_model",
        cur.join(scored, cur(idCol) === col("__keep")).drop("__keep"))
    }
    benchmark.foreach { b =>
      val clean = PipelineOps.contamination(cur, b, idCol, textCol, shingleN)
        .where(col("contamination") <= maxContamination)
        .select(col("doc_id").as("__keep"))
      cur = record("decontaminate",
        cur.join(clean, cur(idCol) === col("__keep")).drop("__keep"))
    }
    if (resampleTargets.nonEmpty) {
      val picked = mixtureResample(cur, idCol, resampleGroupCol,
        resampleTargets).select(col(idCol).as("__keep"))
      cur = record("resample",
        cur.join(picked, cur(idCol) === col("__keep")).drop("__keep"))
    }
    (cur, stages.toSeq)
  }

  /** Concat-and-chunk sequence packing: assign every document a position in
    * a fixed-token-budget training-sequence stream. Documents are ordered
    * deterministically (md5 rank, then id) within `numBuckets` hash
    * buckets; each bucket is an independent stream chunked into sequences
    * of `budget` tokens. Returns (id, bucket, seq_id, seq_offset,
    * n_tokens): the document's tokens start at `seq_offset` of sequence
    * `seq_id` in its bucket's stream and may straddle into the following
    * sequence(s) — the GPT-style packed-loader layout, where the chunker
    * downstream slices the concatenated stream.
    *
    * Scale shape: ONE shuffle (by bucket) and a per-bucket sort; no global
    * ordering anywhere. Size numBuckets so a bucket's documents fit an
    * executor's sort spill comfortably — streams are independent, so more
    * buckets only means more (shorter) packed streams. Offsets are longs:
    * a 2^53 float path would silently lose token positions at real corpus
    * sizes, so the division stays integral (`div`).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, numBuckets: Int): DataFrame = {
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val h = PipelineOps.hash60(col(idCol).cast("string"))
    val base = df.select(col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
      h.as("hkey"), pmod(h, lit(numBuckets.toLong)).cast("int").as("bucket"))
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("hkey"), col(idCol))
    base
      .withColumn("end_off", sum(col("n_tokens")).over(
        byBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(col(idCol), col("bucket"),
        expr(s"start_off div ${budget}").as("seq_id"),
        pmod(col("start_off"), lit(budget.toLong)).as("seq_offset"),
        col("n_tokens"))
  }
}
