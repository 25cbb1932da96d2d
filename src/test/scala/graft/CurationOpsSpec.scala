package graft

import graft.operators.CurationOps
import org.apache.spark.sql.functions._

/** Corpus-curation semantics on handcrafted documents: repeated-substring
  * span detection/removal, mixture reporting/resampling, sequence packing.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // doc 2 repeats doc 1's "a b c d e f"; docs 4/5 are byte-identical;
  // doc 6 repeats two separated 4-grams of doc 1; doc 3 is clean
  private val corpus = Seq(
    (1L, "a b c d e f g h"),
    (2L, "x y a b c d e f q r"),
    (3L, "zz unrelated tokens only here mm nn oo"),
    (4L, "p q2 r2 s t u v w"),
    (5L, "p q2 r2 s t u v w"),
    (6L, "a b c d j1 j2 j3 j4 j5 c d e f")
  ).toDF("doc_id", "text")

  test("duplicateSpans merges overlapping windows into maximal spans and " +
    "keeps separated repeats apart") {
    val spans = CurationOps.duplicateSpans(corpus, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    // doc 1: windows 0..2 dup ("a b c d","b c d e","c d e f") -> one span
    assert(spans.contains((1L, 0, 5, 3L)))
    // doc 2: the same three windows at pos 2..4 -> span over tokens 2..7
    assert(spans.contains((2L, 2, 7, 3L)))
    // docs 4/5: every window dup -> whole-doc span (8 tokens, 5 windows)
    assert(spans.contains((4L, 0, 7, 5L)))
    assert(spans.contains((5L, 0, 7, 5L)))
    // doc 6: "a b c d" at 0 and "c d e f" at 9 — gap > k keeps two islands
    assert(spans.contains((6L, 0, 3, 1L)))
    assert(spans.contains((6L, 9, 12, 1L)))
    // doc 3 clean; exactly the six spans above
    assert(spans.size === 6)
    assert(!spans.exists(_._1 == 3L))
  }

  test("removeDuplicateSpans keeps the globally-first occurrence and " +
    "digests the rewritten body") {
    val out = CurationOps.removeDuplicateSpans(corpus, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def d(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.size === 6)
    // doc 1 holds the first occurrence of every shared window: untouched
    assert(out(1L) === ((8L, 0L, d("a b c d e f g h"))))
    // doc 2 loses tokens 2..7
    assert(out(2L) === ((10L, 6L, d("x y q r"))))
    // doc 3 untouched
    assert(out(3L)._2 === 0L)
    // doc 4 is the keeper of the 4/5 pair; doc 5 empties completely
    assert(out(4L) === ((8L, 0L, d("p q2 r2 s t u v w"))))
    assert(out(5L) === ((8L, 8L, d(""))))
    // doc 6 loses both separated repeats (4 + 4 tokens)
    assert(out(6L) === ((13L, 8L, d("j1 j2 j3 j4 j5"))))
  }

  test("mixtureReport shares sum to 1 and counts are exact") {
    val df = Seq(
      ("web", "en", "one two three"), ("web", "en", "four five"),
      ("web", "de", "sechs"), ("wiki", "en", "seven eight nine ten")
    ).toDF("source", "lang", "text")
    val rep = CurationOps.mixtureReport(df, "text", Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    assert(rep(("web", "en"))._1 === 2L)
    assert(rep(("web", "en"))._2 === 5L)  // tokens
    assert(rep(("wiki", "en"))._4 === 0.4) // 4 of 10 tokens
    assert(math.abs(rep.values.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(rep.values.map(_._4).sum - 1.0) < 1e-9)
  }

  test("mixtureResample hits the exact downsample-only quota per group " +
    "and drops untargeted groups") {
    val df = (1L to 10L).map(i => (i, "A")) ++ (11L to 20L).map(i => (i, "B")) ++
      (21L to 25L).map(i => (i, "C"))
    val in = df.toDF("doc_id", "grp")
    // M = min(10/0.8, 10/0.2) = 12.5 -> quotas A=10, B=2; C untargeted
    val kept = CurationOps.mixtureResample(in, "doc_id", "grp",
      Map("A" -> 0.8, "B" -> 0.2))
    val byGrp = kept.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp === Map("A" -> 10L, "B" -> 2L))
    // deterministic under physical re-partitioning
    val again = CurationOps.mixtureResample(in.repartition(7), "doc_id", "grp",
      Map("A" -> 0.8, "B" -> 0.2))
    assert(kept.collect().toSet === again.collect().toSet)
  }

  test("packSequences lays out a contiguous per-bucket token stream") {
    val docs = (1L to 30L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
    val out = CurationOps.packSequences(docs.toDF("doc_id", "text"),
      "doc_id", "text", budget = 10, numBuckets = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 30)
    // recompute the stream independently: per bucket, docs ordered by
    // (hash60, id) fill a single running token offset
    def hash60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val hashed = docs.map { case (id, text) =>
      val h = hash60(id.toString)
      (id, h, (h % 3).toInt, text.split(" ").length.toLong)
    }
    for (b <- 0 until 3) {
      var off = 0L
      for ((id, _, _, n) <- hashed.filter(_._3 == b).sortBy(x => (x._2, x._1))) {
        val row = out.find(_._1 == id).get
        assert(row._2 === b)
        assert(row._3 === off / 10, s"seq_id of doc $id")
        assert(row._4 === off % 10, s"seq_offset of doc $id")
        assert(row._5 === n)
        off += n
      }
    }
  }

  /** Jobs per q_curate call on the sf0.001 documents, under its catalog
    * confs with the result collected: each stage's checkpoint observes its
    * audit count, and near-dup clustering runs its connected components
    * in one task (67 before both). Measured; a count may only go down. */
  private val curateJobBudget = 36

  test("q_curate stays within the committed job budget, its stage counts observed") {
    val spec = graft.queries.Catalog("q_curate")
    Tables.documents(spark, sf0001) // its schema inference is no stage's job
    val n = jobsOf(spec.withConfs(spark)(spec.build(spark, sf0001).collect()))
    info(s"q_curate=$n jobs")
    assert(n <= curateJobBudget, s"q_curate submitted $n jobs")
  }
}
