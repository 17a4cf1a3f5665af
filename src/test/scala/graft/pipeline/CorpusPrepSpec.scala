package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dedup.Dedup

class CorpusPrepSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // alpha-only word soup ("w" + digits mapped to letters + ".") so the
  // reference quality thresholds pass: letters ~0.67, punct ~0.16, no digits
  private def word(seed: Long): String =
    "w" + math.abs(Dedup.mix64(seed)).toString.take(5)
      .map(c => ('a' + (c - '0')).toChar).mkString + "."

  private def doc(i: Int): (String, Long, String) =
    ("s" + (i % 2), i.toLong, (0 until 40).map(j => word(i * 1000L + j)).mkString(" "))

  test("corpus prep: exact dup, near dup, contaminated, junk each drop at their stage") {
    import spark.implicits._
    val base = (0 until 40).map(doc)
    val exactDup = ("s0", 100L, base(0)._3)
    val nearDup = ("s1", 101L, base(1)._3.replaceFirst("w\\w+\\.", "changed."))
    val junk = ("s0", 102L, "short")
    val docs = (base :+ exactDup :+ nearDup :+ junk).toDF("shard", "id", "text")
    // benchmark = a 10-word window of doc 2 -> 3 overlapping 8-grams
    val bench = Seq(base(2)._3.split(" ").slice(3, 13).mkString(" ")).toDF("text")

    val (packed, Some(rep)) = CorpusPrep.run(docs, "text", "id", "shard",
      benchmark = Some(bench), tokenBudget = 100L, threshold = 0.5)

    assert(rep.input == 43)
    assert(rep.afterExactDedup == 42, "exact dup of doc 0 collapses")
    assert(rep.afterNearDup == 41, "near dup of doc 1 drops")
    assert(rep.afterDecontaminate == 40, "doc 2 shares benchmark 8-grams")
    assert(rep.afterQuality == 39, "junk doc drops on length")
    assert(rep.nChunks >= 2, s"40-token docs at budget 100 must span chunks, got ${rep.nChunks}")

    val rows = packed.collect()
    assert(rows.length == 39)
    val ids = rows.map(r => r.getLong(r.fieldIndex("id"))).toSet
    assert(!ids(100L) && !ids(101L) && !ids(102L) && !ids(2L) && ids(0L) && ids(1L))
    assert(rows.forall(_.getLong(3) >= 0L), "every surviving doc gets a chunk_id")
  }

  test("optional stage 0 (C4 line clean) and dup-line gate drop their planted casualties") {
    import spark.implicits._
    val base = (0 until 30).map(doc)
    // lorem doc: dropped whole at stage 0
    val lorem = ("s0", 200L, base(5)._3 + "\nLorem ipsum dolor sit amet.")
    // boilerplate-only doc: every line fails the C4 rules -> empty -> dropped
    val boiler = ("s1", 201L, "Enable javascript now.\nshort.\nno punctuation here")
    // repetitive doc: same long line 30x (passes junk rules: enough
    // length/letters/punct) -> dup_line_frac ~0.97 -> dropped by the gate.
    // Seeds far outside base's range so it is no near-dup of anything.
    val repLine = (0 until 12).map(j => word(909000L + j)).mkString(" ")
    val repeaty = ("s0", 202L, Seq.fill(30)(repLine).mkString("\n"))
    // a doc with a junk trailing line the cleaner REMOVES but keeps the
    // doc; unique body (cleaning must not turn it into an exact dup)
    val cleanBody = (0 until 40).map(j => word(555000L + j)).mkString(" ")
    val cleanable = ("s1", 203L, cleanBody + "\nEnable javascript to view this page.")
    val docs = (base :+ lorem :+ boiler :+ repeaty :+ cleanable)
      .toDF("shard", "id", "text")

    // base docs end each word with "." and are one line: they survive
    // C4 line rules (>= 3 words, terminal '.') untouched
    val (packed, Some(rep)) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, threshold = 0.5,
      lineClean = true, maxDupLineFrac = Some(0.5))
    assert(rep.input == 34)
    assert(rep.afterExactDedup == 32, "lorem + boilerplate-only drop at stage 0")
    val rows = packed.collect()
    val ids = rows.map(r => r.getLong(r.fieldIndex("id"))).toSet
    assert(!ids(200L) && !ids(201L), "stage-0 casualties")
    assert(!ids(202L), "dup-line gate casualty")
    assert(ids(203L), "cleanable doc survives")
    val r203 = rows.find(r => r.getLong(r.fieldIndex("id")) == 203L).get
    assert(r203.getString(r203.fieldIndex("text")) == cleanBody,
      "the javascript line is edited OUT, doc kept")
  }

  test("round-6 stages: boilerplate removal + char-frac + top-ngram gates") {
    import spark.implicits._
    val base = (0 until 30).map(doc)
    // a shared footer on 10 docs (>= minDocFreq 5): stripped from all
    val footer = "shared footer line."
    val withFooter = base.map { case (s, id, t) =>
      if (id < 10) (s, id, t + "\n" + footer) else (s, id, t)
    }
    // footer-only doc: everything is boilerplate -> empty -> dropped at 0b
    val footerOnly = ("s0", 300L, footer)
    // dup-line CHAR fraction casualty: 3 copies of a long line + 1 unique
    // word -> dup_line_char_frac ~0.97 (and dup_line_frac 0.5 — the char
    // signal catches what the line-count signal under-weights)
    val longLine = (0 until 12).map(j => word(707000L + j)).mkString(" ")
    val charFracDoc = ("s1", 301L,
      Seq(longLine, longLine, longLine, word(707100L)).mkString("\n"))
    // top-bigram casualty: two words alternating -> one bigram covers ~all
    val w1 = word(808000L)
    val w2 = word(808001L)
    val ngramDoc = ("s0", 302L, Seq.fill(20)(s"$w1 $w2").mkString(" "))
    val docs = (withFooter :+ footerOnly :+ charFracDoc :+ ngramDoc)
      .toDF("shard", "id", "text")

    // lineClean=true TOGETHER with the boilerplate stage: the eager
    // frequency job must not consume the report's input Observation
    // (regression: it returned empty metrics -> input=0 when the C4
    // chain sat between observe and the frequency aggregate); every
    // planted line here passes the C4 rules so the expected counts are
    // unchanged by cleaning
    val (packed, Some(rep)) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, threshold = 0.5,
      lineClean = true,
      boilerplateMinDocFreq = Some(5L),
      maxDupLineCharFrac = Some(0.5),
      maxTopNgramCharFrac = Some(0.5))
    assert(rep.input == 33)
    assert(rep.afterExactDedup == 32, "footer-only doc empties at stage 0b")
    assert(rep.afterQuality == 30, "char-frac + top-ngram casualties drop")
    val rows = packed.collect()
    val ids = rows.map(r => r.getLong(r.fieldIndex("id"))).toSet
    assert(!ids(300L) && !ids(301L) && !ids(302L))
    assert(ids(0L) && ids(5L) && ids(29L), "footer carriers survive, stripped")
    assert(rows.forall(r => !r.getString(r.fieldIndex("text")).contains(footer)),
      "the corpus-frequent footer must be stripped from every survivor")
  }

  test("the report is free: stage counts ride the checkpoint jobs, zero extra jobs") {
    import spark.implicits._
    val base = (0 until 30).map(doc)
    val docs = base.toDF("shard", "id", "text")
    val bench = Seq(base(2)._3.split(" ").slice(3, 13).mkString(" ")).toDF("text")
    // baseline: identical pipeline with NO report, materialized by one
    // final checkpoint — the same data flows through the same internal
    // jobs (components rounds, pair checkpoints), so any report overhead
    // beyond the three intermediate stage checkpoints is extra jobs
    val jobsNoReport = SparkTestSession.jobsOf {
      val (packed, _) = CorpusPrep.run(docs, "text", "id", "shard",
        benchmark = Some(bench), tokenBudget = 100L, threshold = 0.5, report = false)
      packed.localCheckpoint(true)
    }
    val jobsReport = SparkTestSession.jobsOf {
      CorpusPrep.run(docs, "text", "id", "shard",
        benchmark = Some(bench), tokenBudget = 100L, threshold = 0.5, report = true)
    }
    assert(jobsReport <= jobsNoReport + 3,
      s"report must add only the 3 intermediate checkpoints (observe rides them): " +
        s"$jobsReport vs baseline $jobsNoReport — the old design issued 6 count jobs on top")
  }

  test("optional quality band drops the per-shard tails, reflected in afterQuality") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    // variable-length docs (20 + i words) so a length band has real tails
    val docs = (0 until 40).map { i =>
      ("s" + (i % 2), i.toLong, (0 until 20 + i).map(j => word(i * 1000L + j)).mkString(" "))
    }.toDF("shard", "id", "text")
    val (_, Some(full)) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L)
    val (packed, Some(banded)) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, qualityBand = Some((0.25, 1.0)),
      bandMetric = Some(length(col("text"))))
    assert(full.afterQuality == 40)
    assert(banded.afterQuality < full.afterQuality,
      s"p25 length band must drop the short quartile per shard: ${banded.afterQuality}")
    assert(banded.afterQuality >= 20, "band must not drop more than the tails")
    assert(packed.count() == banded.afterQuality)
  }

  test("optional LM perplexity band drops the word-salad docs after the quality count") {
    import spark.implicits._
    // prose: 40 tokens drawn pseudo-randomly from a SHARED 60-word pool
    // (high counts -> low surprisal; random order, so no near-dup pair);
    // salad: globally unique words (count 1 -> max surprisal)
    def pool(k: Long): String = word(k % 60)
    val prose = (0 until 40).map { i =>
      ("s" + (i % 2), i.toLong,
        (0 until 40).map(j => pool(math.abs(Dedup.mix64(i * 1000L + j)))).mkString(" "))
    }
    val salad = (0 until 8).map { i =>
      ("s" + (i % 2), 500L + i,
        (0 until 40).map(j => word(5000000L + i * 100L + j)).mkString(" "))
    }
    val docs = (prose ++ salad).toDF("shard", "id", "text")
    val (packed, Some(rep)) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, lmBand = Some((0.0, 0.75)))
    assert(rep.afterQuality == 48, "the LM band runs after the quality count")
    val kept = packed.select("id").collect().map(_.getLong(0)).toSet
    assert(salad.forall(s => !kept(s._2)),
      s"every salad doc out-surprises the p75 cutoff: kept ${kept.filter(_ >= 500L)}")
    assert(kept.size >= 30 && kept.size < 48,
      s"the band drops roughly the top quartile, not the corpus: ${kept.size}")
  }

  test("nearDupKeepBy keeps the best cluster member instead of the min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val base = (0 until 30).map(doc)
    // near-dup mutant is LONGER than its source -> keep-longest keeps IT
    val nearDup = ("s1", 101L, base(1)._3 + " extras." + " padding." + " more.")
    val docs = (base :+ nearDup).toDF("shard", "id", "text")
    val (minId, _) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, threshold = 0.5, report = false)
    val (best, _) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, threshold = 0.5, report = false,
      nearDupKeepBy = Some(length(col("text")).cast("long")))
    val minIds = minId.select("id").collect().map(_.getLong(0)).toSet
    val bestIds = best.select("id").collect().map(_.getLong(0)).toSet
    assert(minIds(1L) && !minIds(101L), "default policy keeps the min id")
    assert(bestIds(101L) && !bestIds(1L), "keep-best keeps the longer mutant")
    assert((minIds - 1L) == (bestIds - 101L), "policies differ only inside the cluster")
  }

  test("oversized benchmark auto-falls back to the semi-join tier, same survivors") {
    import spark.implicits._
    val base = (0 until 30).map(doc)
    val docs = base.toDF("shard", "id", "text")
    val bench = Seq(base(2)._3.split(" ").slice(3, 13).mkString(" ")).toDF("text")
    val (_, Some(broadcastRep)) = CorpusPrep.run(docs, "text", "id", "shard",
      benchmark = Some(bench), tokenBudget = 100L, threshold = 0.5)
    // maxBenchShingles=1 trips the broadcast guard -> semi-join tier
    val (packed, Some(joinRep)) = CorpusPrep.run(docs, "text", "id", "shard",
      benchmark = Some(bench), tokenBudget = 100L, threshold = 0.5,
      maxBenchShingles = 1)
    assert(joinRep == broadcastRep,
      s"tiers must agree stage-for-stage: $joinRep vs $broadcastRep")
    assert(packed.count() == joinRep.afterQuality)
  }

  test("report=false returns the same survivors without stage counts") {
    import spark.implicits._
    val docs = (0 until 20).map(doc).toDF("shard", "id", "text")
    val (packed, rep) = CorpusPrep.run(docs, "text", "id", "shard",
      tokenBudget = 100L, report = false)
    assert(rep.isEmpty)
    assert(packed.count() == 20)
  }
}
