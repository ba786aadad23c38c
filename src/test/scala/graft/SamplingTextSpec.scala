package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sampling, TextOps}

/** Deterministic sampling + text normalization/redaction operators. */
class SamplingTextSpec extends SparkSuite {
  import spark.implicits._

  test("hashBernoulli is a pure function of the key (partitioning-proof)") {
    val d = Tables.documents(spark, sfDir)
    val a = Sampling.hashBernoulli(d, col("doc_id").cast("string"), 10, 100)
      .select("doc_id").as[Long].collect().sorted
    val b = Sampling.hashBernoulli(d.repartition(17), col("doc_id").cast("string"), 10, 100)
      .select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
    // rate lands near 10% (hash-uniformity sanity, generous band)
    val n = d.count().toDouble
    assert(a.length / n > 0.04 && a.length / n < 0.20)
  }

  test("hashBernoulli co-samples across tables sharing the key") {
    val d = Tables.documents(spark, sfDir)
    val ids1 = Sampling.hashBernoulli(d, col("doc_id").cast("string"), 10, 100)
      .select("doc_id").as[Long].collect().toSet
    val other = d.select(col("doc_id"), col("lang")) // a "different table"
    val ids2 = Sampling.hashBernoulli(other, col("doc_id").cast("string"), 10, 100)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 === ids2)
  }

  test("stratifiedFixed: exactly n per stratum, deterministic") {
    val d = Tables.documents(spark, sfDir)
    val s1 = Sampling.stratifiedFixed(d, Seq("lang"), col("doc_id").cast("string"), 3)
    val counts = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ <= 3))
    val again = Sampling.stratifiedFixed(d.repartition(13), Seq("lang"),
      col("doc_id").cast("string"), 3)
      .select("doc_id").as[Long].collect().sorted
    assert(again.sameElements(s1.select("doc_id").as[Long].collect().sorted))
  }

  test("hashSplit covers every row exactly once, stable under repartition") {
    val d = Tables.documents(spark, sfDir)
    val slabs = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val s1 = Sampling.hashSplit(d, col("doc_id").cast("string"), slabs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.size === d.count()) // total function: every row labelled
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    val s2 = Sampling.hashSplit(d.repartition(13), col("doc_id").cast("string"),
      slabs).select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2) // no example ever migrates between splits
    // slab widths roughly respected (hash uniformity, generous band)
    val frTrain = s1.values.count(_ == "train").toDouble / s1.size
    assert(frTrain > 0.6 && frTrain < 0.95)
  }

  test("mixtureByGroup applies per-group rates, draw keyed on row id") {
    val d = Tables.documents(spark, sfDir)
    val rates = Seq(("src0", 100, 100), ("src1", 0, 100)).toDF("source", "k", "m")
    val kept = Sampling.mixtureByGroup(
        d.where(col("source").isin("src0", "src1")), "source",
        col("doc_id").cast("string"), rates)
      .select("source").as[String].collect()
    assert(kept.nonEmpty && kept.forall(_ == "src0")) // k=0 drops all src1
  }

  test("chunkTokens covers all tokens with the declared overlap") {
    val doc = (1 to 75).map(i => s"w$i").mkString(" ")
    val rows = Seq(doc, "short doc").toDF("text")
      .select(posexplode(TextOps.chunkTokens(col("text"), 32, 8)))
      .select("col.idx", "col.n_tok", "col.chunk_text")
      .as[(Long, Long, String)].collect()
    // doc of 75 tokens, stride 24: chunks at 1, 25, 49 → 3 chunks
    val longChunks = rows.filter(r => r._3.split(" ").head == "w1" ||
      r._3.split(" ").head == "w25" || r._3.split(" ").head == "w49")
    assert(longChunks.map(_._1).sorted.sameElements(Array(0L, 1L, 2L)))
    assert(longChunks.find(_._1 == 0L).get._2 === 32L)
    assert(longChunks.find(_._1 == 2L).get._2 === 27L) // 75-48 tail
    // every token appears in some chunk; consecutive chunks share 8
    val c0 = longChunks.find(_._1 == 0L).get._3.split(" ")
    val c1 = longChunks.find(_._1 == 1L).get._3.split(" ")
    assert(c0.takeRight(8).sameElements(c1.take(8)))
    // short doc: single chunk, unchanged
    assert(rows.exists(r => r._3 == "short doc" && r._1 == 0L && r._2 == 2L))
  }

  test("tfidf ranks distinctive terms above corpus-wide ones") {
    val docs = Seq(
      (1L, "shared shared rare1 rare1 rare1"),
      (2L, "shared shared rare2"),
      (3L, "shared other")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // 'shared' is in every doc (df=3, idf floor), rare terms win
    assert(top(1L) === "rare1" && top(2L) === "rare2")
  }

  test("normalize strips case/punct and collapses whitespace") {
    val got = Seq("  Hello,   WORLD!! x9  ").toDF("t")
      .select(TextOps.normalize(col("t"))).as[String].head()
    assert(got === "hello world x9")
  }

  test("redact replaces emails and phone shapes, leaves the rest") {
    val got = Seq("write bob.smith@corp.example.org or call 555-0123 now")
      .toDF("t").select(TextOps.redact(col("t"))).as[String].head()
    assert(got === "write <EMAIL> or call <PHONE> now")
  }

  test("redact handles mixed case, +tags, hyphenated hosts, area codes") {
    val got = Seq(
      "Bob.Smith+x@My-Corp.org home 555-123-4567 desk 555-0199")
      .toDF("t").select(TextOps.redact(col("t"))).as[String].head()
    assert(got === "<EMAIL> home <PHONE> desk <PHONE>")
  }

  test("boilerplate filter keeps LSH from degenerating on a shared block") {
    import graft.ops.DedupText
    // 40 distinct docs, every one dominated by the same license header;
    // docs 0/1 are true dups of each other, docs 100/101 are pure header
    // (all-boilerplate) and must survive filtering as a pair
    val header = (0 until 30).map(k => s"lic$k").mkString(" ")
    val docs = (Seq.tabulate(40) { i =>
      val body =
        if (i <= 1) (0 until 10).map(k => s"w${7 * k}").mkString(" ")
        else (0 until 10).map(k => s"w${(i * 131 + k * 7) % 9973}").mkString(" ")
      (i.toLong, s"$header $body")
    } ++ Seq((100L, header), (101L, header))).toDF("doc_id", "text")
    // unfiltered: the shared header floods the sketches -> spurious pairs
    val rawPairs = DedupText.lshCandidates(
      DedupText.minhashSignatures(docs, "doc_id", "text"), "doc_id", 8, 4)
      .count()
    // filtered: only the planted near-dup pair survives
    val filtered = DedupText.lshCandidates(
      DedupText.minhashSignaturesFiltered(docs, "doc_id", "text",
        maxDocFrac = 0.5), "doc_id", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(rawPairs > filtered.size,
      s"header should inflate raw candidates: raw=$rawPairs filtered=${filtered.size}")
    assert(filtered === Set((0L, 1L), (100L, 101L)),
      s"planted near-dups and identical all-boilerplate docs survive: $filtered")
    // recall on a clean corpus: groups of 10 docs share one text over a
    // large vocabulary, so the candidates are exactly the within-group
    // pairs — none lost, none across groups
    val planted = Seq.tabulate(60) { i =>
      (i.toLong, (0 until 30).map(k =>
        s"w${(i / 10 * 10L * (k + 7) + k * k * 31) % 99991}").mkString(" "))
    }.toDF("doc_id", "text")
    val within = (for (a <- 0L until 60L; b <- a + 1 until 60L
                       if a / 10 == b / 10) yield (a, b)).toSet
    assert(DedupText.lshCandidates(
        DedupText.minhashSignatures(planted, "doc_id", "text"), "doc_id", 8, 4)
      .as[(Long, Long)].collect().toSet === within)
  }
}
