package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Multimodal, Similarity}

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup keeps min id per normalized text") {
    val docs = Seq(
      (1L, "Hello World"), (2L, "  hello world  "), (3L, "unique")
    ).toDF("doc_id", "text")
    val got = Dedup.exact(docs).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("paragraph dedup keeps first occurrence, rebuilds text, exempts blanks") {
    val docs = Seq(
      (1L, "alpha\nshared body\nbeta"),
      (2L, "gamma\nshared body\ndelta"),      // loses the repeated paragraph
      (3L, "only here"),                       // untouched → byte-identical
      (4L, "shared body\nshared body"),        // both occurrences lose (doc 1 owns it)
      (5L, "x\n\ny\n\nz"),                     // blank paragraphs exempt, kept
      (6L, "a\n\nb")                           // blanks repeat across docs, still kept
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("alpha\nshared body\nbeta", 0L)))
    assert(got(2L) === (("gamma\ndelta", 1L)))
    assert(got(3L) === (("only here", 0L)))
    assert(got(4L) === (("", 2L)))
    assert(got(5L) === (("x\n\ny\n\nz", 0L)))
    assert(got(6L) === (("a\n\nb", 0L)))
  }

  test("negativeSamples: modular walk order, cluster exclusion is " +
    "transitive, missing ids dropped, at most k per anchor") {
    import graft.operators.Corpus
    val docs = (0L to 9L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Corpus.negativeSamples(docs, pairs, k = 2, oversample = 3)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toList).toMap
    // 7919 % 10 = 9: anchor 0 walks 9, 8, 7, ...
    assert(got(0L) === List(9L, 8L))
    // anchor 2 is clustered with {1, 2, 3} (transitively): its j=1
    // candidate 1 is excluded, so the negs are 0 (j=2) then 9 (j=3)
    assert(got(2L) === List(0L, 9L))
    // no emitted negative shares a cluster with its anchor
    val cluster = Map(1L -> 1L, 2L -> 1L, 3L -> 1L).withDefault(identity)
    for ((a, negs) <- got; n <- negs)
      assert(cluster(a) !== cluster(n), s"anchor $a neg $n")
    assert(got.values.forall(_.length <= 2))
  }

  test("boilerplate removal: all occurrences of cross-doc frequent " +
    "segments drop, blanks and untouched docs survive byte-identical") {
    val docs = Seq(
      (1L, "footer\nunique a\nfooter"), // both occurrences drop
      (2L, "footer\nunique b"),
      (3L, "Footer \nunique c"),        // lower+trim normalization matches
      (4L, "clean doc"),
      (5L, "x\n\ny")                    // blank separator always kept
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplate(docs, minDocs = 3)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("unique a", 2L)))
    assert(got(2L) === (("unique b", 1L)))
    assert(got(3L) === (("unique c", 1L)))
    assert(got(4L) === (("clean doc", 0L)))
    assert(got(5L) === (("x\n\ny", 0L)))
    // below the frequency threshold nothing is boilerplate
    val none = Dedup.removeBoilerplate(docs, minDocs = 4)
      .as[(Long, String, Long)].collect()
    assert(none.forall(_._3 === 0L))
    assert(none.map(r => r._1 -> r._2).toMap.apply(1L)
      === "footer\nunique a\nfooter")
  }

  test("hashed features: component and sign from the poly hash, signed " +
    "occurrence sums, collisions cancel to zero-mean") {
    import graft.operators.Relevance
    // fold("ab") = 97*131+98 = 12805 → pos 12805%8 = 5, sign +(1600%2=0)
    // fold("cd") = 99*131+100 = 13069 → pos 5 too, sign −(1633%2=1):
    // a planted collision — the signed trick cancels it
    val docs = Seq(
      (1L, "ab ab"), (2L, "cd"), (3L, "ab cd"), (4L, ""))
      .toDF("doc_id", "text")
    val got = Relevance.hashedFeatures(docs, dim = 8)
      .as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map((1L, 5) -> 2L, (2L, 5) -> -1L, (3L, 5) -> 0L))
    // no shuffle beyond the one keyed aggregate; no joins
    val plan = Relevance.hashedFeatures(docs, dim = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("tfidf: term/document frequencies and ratio-idf weights; " +
    "stopword cap drops ubiquitous tokens") {
    import graft.operators.Relevance
    val docs = Seq(
      (1L, "apple apple banana the"),
      (2L, "banana cherry the"),
      (3L, "cherry cherry cherry the"),
      (4L, "date the")).toDF("doc_id", "text")
    val got = Relevance.tfidf(docs, maxDfFraction = 0.75)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // "the" appears in 4/4 docs > 0.75 cap → dropped everywhere
    assert(!got.keys.exists(_._1 == "the"))
    // apple: tf 2 in doc 1, df 1 → 2 * (4/1) = 8
    assert(got(("apple", 1L)) === ((2L, 1L, 8.0)))
    // banana: df 2 → doc 1 weight 1 * (4/2) = 2
    assert(got(("banana", 1L)) === ((1L, 2L, 2.0)))
    assert(got(("cherry", 3L)) === ((3L, 2L, 6.0)))
    assert(got(("date", 4L)) === ((1L, 1L, 4.0)))
  }

  test("winnow overlap: detects a shared passage inside otherwise-" +
    "different docs; boilerplate df cap suppresses common runs") {
    val passage = "the quick brown fox jumps over the lazy dog repeatedly"
    val docs = Seq(
      (1L, s"completely unrelated opening. $passage. one ending"),
      (2L, s"статья на другом языке. $passage. другое окончание"),
      (3L, "nothing in common with anyone here at all, truly nothing"),
      (4L, "another fully distinct document body with its own words"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlap(docs, k = 8, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 >= 2L)
    // the df cap: four IDENTICAL docs produce identical fingerprint
    // sets (identical window context everywhere), so every fingerprint
    // has df = 4 — a cap of 3 suppresses all pairs, a cap of 4 yields
    // all 6
    val all = (1L to 4L)
      .map(i => (i, "this exact boilerplate body is repeated verbatim"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowOverlap(all, k = 8, w = 4, minShared = 1,
      maxDf = 3).count() === 0)
    assert(Dedup.winnowOverlap(all, k = 8, w = 4, minShared = 1,
      maxDf = 4).count() === 6)
    // no cartesian anywhere: candidates come from the fp-equality join
    val plan = Dedup.winnowOverlap(docs, k = 8, w = 4, minShared = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stratified sample: per-source counts proportional to size, " +
    "total within rounding of target, partitioning-independent") {
    import graft.operators.Corpus
    val df = ((1L to 300L).map(i => (i, "big")) ++
      (301L to 400L).map(i => (i, "small"))).toDF("doc_id", "source")
    val got = Corpus.stratifiedSample(df, col("doc_id"), col("source"),
      totalTarget = 100L)
      .as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    // 300:100 split at target 100 → exactly 75 and 25
    assert(bySrc === Map("big" -> 75, "small" -> 25))
    val again = Corpus.stratifiedSample(df.repartition(7), col("doc_id"),
      col("source"), totalTarget = 100L)
      .as[(Long, String)].collect()
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(df, col("doc_id"), col("source"), 0L)
    }
  }

  test("quality-aware canonical: argmax preference with min-id ties; " +
    "cluster ids stay the component min; singletons canonical") {
    import graft.operators.Graph
    val docs = Seq[(Long, java.lang.Double)](
      (1L, 10.0), (2L, 50.0), (3L, 50.0),  // cluster {1,2,3}: 2 wins tie
      (4L, 7.0),                            // singleton
      (5L, 3.0), (6L, null)).toDF("doc_id", "pref")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Graph.dupClustersBy(docs, pairs, col("pref"))
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((1L, 3L, false)))
    assert(got(2L) === ((1L, 3L, true)),  "2 beats the tie vs 3 by id")
    assert(got(3L) === ((1L, 3L, false)))
    assert(got(4L) === ((4L, 1L, true)),  "singleton is its own canonical")
    // null pref never beats a non-null one
    assert(got(5L) === ((5L, 2L, true)))
    assert(got(6L) === ((5L, 2L, false)))
  }

  test("winnow overlap spans: the reported range brackets the planted " +
    "shared passage in both documents") {
    val passage = "the quick brown fox jumps over the lazy dog repeatedly"
    val prefixA = "completely unrelated opening text here. "
    val prefixB = "другой язык в начале. "
    val docs = Seq(
      (1L, prefixA + passage + " tail one"),
      (2L, prefixB + passage + " other tail"),
      (3L, "nothing shared with anything else at all in this one"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlapSpans(docs, k = 8, w = 4, minShared = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    val (_, _, n, aFrom, aTo, bFrom, bTo) = got.head
    assert(n >= 2)
    // spans must fall inside each doc's passage region (gram indexes,
    // 1-based; passage starts after the prefix)
    val aStart = prefixA.length + 1
    val bStart = prefixB.length + 1
    assert(aFrom >= aStart && aTo <= aStart + passage.length,
      s"a span [$aFrom,$aTo] outside passage at $aStart")
    assert(bFrom >= bStart && bTo <= bStart + passage.length,
      s"b span [$bFrom,$bTo] outside passage at $bStart")
    // the two spans describe the SAME passage: equal extents
    assert(aTo - aFrom === bTo - bFrom)
  }

  test("exact delta: in-batch dedup then anti join vs the index; " +
    "index text is never re-hashed") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Seen Before  "),  // normalized-dup of corpus → dropped
      (11L, "brand new"),
      (12L, "brand new"),      // in-batch dup → only 11 survives
      (13L, "another new")).toDF("doc_id", "text")
    val idx = Dedup.hashIndex(corpus)
    val got = Dedup.exactDelta(batch, idx).as[Long].collect().toSet
    assert(got === Set(11L, 13L))
    // the index side enters the join as-is: the joined plan hashes the
    // BATCH text but never the corpus text (the index is persisted)
    val persisted = idx.cache()
    persisted.count()
    val plan = Dedup.exactDelta(batch, persisted)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("Scan"),
      plan)
    persisted.unpersist()
  }

  test("within-doc paragraph dedup: doc-local only, blanks exempt, " +
    "case/whitespace-normalized identity, null text passes through") {
    val docs = Seq(
      (1L, "a\nb\na\n\nc"),         // drops the repeated a, keeps the blank
      (2L, "a\nb"),                  // repeats ACROSS docs never drop here
      (3L, "P\n p \np"),             // normalized identity: keeps only P
      (4L, "\n\n"),                  // all-blank: untouched
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphsWithinDoc(docs)
      .as[(Long, Option[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Some("a\nb\n\nc"), 1L)))
    assert(got(2L) === ((Some("a\nb"), 0L)))
    assert(got(3L) === ((Some("P"), 2L)))
    assert(got(4L) === ((Some("\n\n"), 0L)))
    assert(got(5L) === ((None, 0L)))
    // no shuffle: the whole operator is one projection
    val plan = Dedup.dedupParagraphsWithinDoc(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"), plan)
  }

  test("paragraph dedup removes intra-doc repeats after the first") {
    val docs = Seq((7L, "p\nq\np\nr\np")).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs)
      .as[(Long, String, Long)].collect().head
    assert(got === ((7L, "p\nq\nr", 2L)))
  }

  test("paragraph dedup normalizes case/whitespace for identity") {
    val docs = Seq(
      (1L, "Shared Para\nmine"),
      (2L, "  shared para  \nyours")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got(1L) === "Shared Para\nmine")
    assert(got(2L) === "yours")
  }

  test("global token budget: distributed prefix sum equals the single-" +
    "window reference; partitioning-independent; monotone in budget") {
    import graft.operators.Corpus
    val rng = new scala.util.Random(11)
    val df = (1L to 500L).map(i => (i, 1L + rng.nextInt(100)))
      .toDF("doc_id", "toks")
    // single-window reference: one global cumsum in hash order
    import org.apache.spark.sql.expressions.Window
    val ref = df
      .withColumn("_u", Corpus.hashUnit(col("doc_id")))
      .withColumn("_cum", sum(col("toks")).over(
        Window.orderBy(col("_u"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("_cum") <= 5000L)
      .select("doc_id").as[Long].collect().toSet
    val got = Corpus.capTokensGlobal(df, col("doc_id"), col("toks"),
      budget = 5000L, numRanges = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(got === ref)
    assert(got.nonEmpty && got.size < 500)
    val repart = Corpus.capTokensGlobal(df.repartition(13), col("doc_id"),
      col("toks"), budget = 5000L, numRanges = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(repart === ref)
    // a larger budget only ever ADDS documents
    val bigger = Corpus.capTokensGlobal(df, col("doc_id"), col("toks"),
      budget = 9000L, numRanges = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(got.subsetOf(bigger) && bigger.size > got.size)
  }

  test("weighted order: higher-weight source dominates every prefix " +
    "proportionally; order is partitioning-independent") {
    import graft.operators.Corpus
    val df = ((1L to 150L).map(i => (i, "heavy")) ++
      (151L to 300L).map(i => (i, "light"))).toDF("doc_id", "source")
    val ordered = Corpus.weightedOrder(df, col("doc_id"), col("source"),
      Map("heavy" -> 3.0)).select("doc_id", "source")
      .as[(Long, String)].collect()
    assert(ordered.length === 300)
    // weight 3 vs 1 on equal-size sources: the first third of the order
    // should be mostly heavy (expected ~75%), the last third mostly
    // light
    val firstHeavy = ordered.take(100).count(_._2 == "heavy")
    val lastHeavy = ordered.takeRight(100).count(_._2 == "heavy")
    assert(firstHeavy > 60, s"first 100: $firstHeavy heavy")
    assert(lastHeavy < 40, s"last 100: $lastHeavy heavy")
    val again = Corpus.weightedOrder(df.repartition(7), col("doc_id"),
      col("source"), Map("heavy" -> 3.0)).select("doc_id", "source")
      .as[(Long, String)].collect()
    assert(ordered.toSeq === again.toSeq)
    intercept[IllegalArgumentException] {
      Corpus.weightedOrder(df, col("doc_id"), col("source"),
        Map("heavy" -> 0.0))
    }
  }

  test("deterministic shuffle: partitioning-independent pseudo-random " +
    "global order via a range-sort plan") {
    import graft.operators.Corpus
    val df = (1L to 300L).toDF("doc_id")
    val a = Corpus.shuffleDeterministic(df.repartition(7), col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    val b = Corpus.shuffleDeterministic(df.repartition(3), col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    assert(a === b, "order must not depend on input partitioning")
    assert(a.toSet === (1L to 300L).toSet)
    assert(a !== (1L to 300L).toSeq, "order is actually permuted")
    val plan = Corpus.shuffleDeterministic(df, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.toLowerCase.contains("window"), plan)
  }

  test("epoch upsampling: integer epochs copy exactly, fractional " +
    "epochs add a deterministic extra copy, zero drops the source") {
    import graft.operators.Corpus
    val df = ((1L to 100L).map(i => (i, "a")) ++
      (101L to 200L).map(i => (i, "b")) ++
      (201L to 220L).map(i => (i, "c"))).toDF("doc_id", "source")
    val got = Corpus.upsampleBySource(df, col("doc_id"), col("source"),
      Map("a" -> 2.0, "b" -> 1.5, "c" -> 0.0))
      .as[(Long, String, Long)].collect()
    val byId = got.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq)
    // integer epochs: exactly 2 dense-indexed copies per key
    (1L to 100L).foreach(i => assert(byId(i) === Seq(0L, 1L)))
    // fractional: 1 or 2 copies per key; roughly half get the extra
    val bCopies = (101L to 200L).map(i => byId(i).size)
    assert(bCopies.forall(n => n == 1 || n == 2))
    assert(bCopies.count(_ == 2) > 20 && bCopies.count(_ == 2) < 80)
    // zero epochs: source c absent entirely
    assert(!got.exists(_._2 == "c"))
    // determinism under repartitioning
    val again = Corpus.upsampleBySource(df.repartition(7), col("doc_id"),
      col("source"), Map("a" -> 2.0, "b" -> 1.5, "c" -> 0.0))
      .as[(Long, String, Long)].collect()
    assert(got.sorted.toSeq === again.sorted.toSeq)
    intercept[IllegalArgumentException] {
      Corpus.upsampleBySource(df, col("doc_id"), col("source"),
        Map("a" -> -1.0))
    }
  }

  test("quantile binning: exact boundaries, boundary values go up, " +
    "nulls excluded") {
    import graft.operators.Corpus
    val df = (1 to 8).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "v")
    val got = Corpus.binByQuantiles(df, col("v"), nBins = 4)
      .select("doc_id", "bin").as[(Long, Int)].collect().toMap
    // boundaries: p25=2.75, p50=4.5, p75=6.25
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2,
      5L -> 3, 6L -> 3, 7L -> 4, 8L -> 4))
    // a row AT a boundary lands in the upper bin (b <= v counting)
    val tie = Seq((1L, 1.0), (2L, 2.0), (3L, 2.0), (4L, 3.0))
      .toDF("doc_id", "v")
    val tieBins = Corpus.binByQuantiles(tie, col("v"), nBins = 2)
      .select("doc_id", "bin").as[(Long, Int)].collect().toMap
    assert(tieBins === Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2))
    val withNull = df.union(Seq((9L, null.asInstanceOf[java.lang.Double]))
      .toDF("doc_id", "v"))
    assert(Corpus.binByQuantiles(withNull, col("v"), 4).count() === 8)
  }

  test("snapshot diff: added/removed/changed/unchanged classification, " +
    "null text and null ids, churn-only mode") {
    import graft.operators.Corpus
    val oldSnap = Seq(
      (1L, "same"), (2L, "before"), (3L, "gone"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .union(Seq((null.asInstanceOf[java.lang.Long], "no id"))
        .toDF("doc_id", "text"))
    val newSnap = Seq(
      (1L, "  SAME "),   // normalized-identical → unchanged
      (2L, "after"),     // changed
      (5L, "fresh"),     // added
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text") // null≡null
    val got = Corpus.snapshotDiff(oldSnap, newSnap)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "unchanged", 5L -> "added"))
    val churn = Corpus.snapshotDiff(oldSnap, newSnap,
      includeUnchanged = false)
      .select("doc_id").as[Long].collect().toSet
    assert(churn === Set(2L, 3L, 5L))
    // text reduces to md5 BEFORE the one full-outer join: neither join
    // input carries the raw text column
    val lp = Corpus.snapshotDiff(oldSnap, newSnap).queryExecution.optimizedPlan
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(!j.children.exists(_.output.exists(_.name == "text")),
        s"raw text reaches the join: $j")
    }
  }

  test("temperature mix: alpha=1 is uniform sampling; alpha<1 up-weights " +
    "small sources; invalid params rejected") {
    import graft.operators.Corpus
    val df = ((1L to 400L).map(i => (i, "big")) ++
      (401L to 450L).map(i => (i, "small"))).toDF("doc_id", "source")
    // alpha = 1 ⇒ every source's rate is exactly targetFraction, so the
    // mixture must equal a plain hash sample at that fraction
    val uniform = Corpus.temperatureMix(df, col("doc_id"), col("source"),
      alpha = 1.0, targetFraction = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val plain = Corpus.sampleByHash(df, col("doc_id"), 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(uniform === plain)
    // alpha < 1 ⇒ the small source keeps a larger FRACTION of its rows
    // than the big one (rate ∝ N^(α−1) is decreasing in N)
    val mixed = Corpus.temperatureMix(df, col("doc_id"), col("source"),
      alpha = 0.5, targetFraction = 0.4)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val fracBig = mixed.getOrElse("big", 0L).toDouble / 400
    val fracSmall = mixed.getOrElse("small", 0L).toDouble / 50
    assert(fracSmall > fracBig,
      s"small=$fracSmall should exceed big=$fracBig at alpha=0.5")
    // membership is a pure key property: survivors of the mixture are
    // survivors regardless of input partitioning
    val repart = Corpus.temperatureMix(df.repartition(7), col("doc_id"),
      col("source"), alpha = 0.5, targetFraction = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val once = Corpus.temperatureMix(df, col("doc_id"), col("source"),
      alpha = 0.5, targetFraction = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(repart === once)
    intercept[IllegalArgumentException] {
      Corpus.temperatureMix(df, col("doc_id"), col("source"), 0.0, 0.4)
    }
    intercept[IllegalArgumentException] {
      Corpus.temperatureMix(df, col("doc_id"), col("source"), 0.5, 1.5)
    }
  }

  test("int8 quantization: dequantization error bounded by scale/2, " +
    "zero vectors and null elements handled, zero shuffle") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),                    // zero vector
      (3L, Array(3.0f))).toDF("vec_id", "embedding")
      .union(Seq((4L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val got = Similarity.quantizeInt8(vecs)
      .as[(Long, Double, Seq[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(4L))
    assert(got(2L) === ((0.0, Seq[Byte](0, 0))))
    assert(got(3L)._2 === Seq[Byte](127))
    val (scale1, codes1) = got(1L)
    assert(codes1 === Seq[Byte](64, -127, 32, 0))
    // round-trip: |x − code·scale| ≤ scale/2 for every element
    Array(0.5f, -1.0f, 0.25f, 0.0f).zip(codes1).foreach { case (x, c) =>
      assert(math.abs(x - c * scale1) <= scale1 / 2 + 1e-9,
        s"x=$x code=$c scale=$scale1")
    }
    val plan = Similarity.quantizeInt8(vecs)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange"), plan)
  }

  test("quantized top-k: identical vectors score exactly 1.0, ranks " +
    "track exact cosine on separated data, zero-norm rows excluded") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val planted = vec()
    val corpus = ((1L to 40L).map(i => (i, vec())) :+
      (99L, planted.clone()) :+ (98L, Array.fill(16)(0.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, planted.clone())).toDF("vec_id", "embedding")
    val got = Similarity.quantizedCosineTopK(corpus, queries, k = 5)
      .orderBy("rnk")
      .as[(Long, Long, Double, Int)].collect()
    // the planted duplicate quantizes to the SAME codes → cosine is
    // exactly 1.0 (integer arithmetic, no fp noise), rank 1
    assert(got.head._2 === 99L)
    assert(got.head._3 === 1.0)
    // the zero vector has zero-norm codes and must not appear
    assert(!got.exists(_._2 == 98L))
    // int8 quantization preserves the exact ranking on this data
    val exact = Similarity.cosineTopK(corpus, queries, k = 5)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(got.map(_._2).toSeq === exact)
  }

  test("group centroids: per-dimension means, null-element vectors excluded") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, "a", Some(Seq(Some(1.0f), Some(3.0f)))),
      (2L, "a", Some(Seq(Some(3.0f), Some(5.0f)))),
      (3L, "b", Some(Seq(Some(10.0f), Some(20.0f)))),
      (4L, "a", Some(Seq(Some(7.0f), None))), // null element -> excluded
      (5L, "b", None)                         // null vector  -> excluded
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.groupCentroids(vecs, "label")
      .as[(String, Int, Double, Long)].collect().toSet
    assert(got === Set(
      ("a", 0, 2.0, 2L), ("a", 1, 4.0, 2L),
      ("b", 0, 10.0, 1L), ("b", 1, 20.0, 1L)))
  }

  test("centroid outliers: planted far vector flags, singleton group " +
    "gets null z and is never an outlier") {
    import graft.operators.Similarity
    // group a: 9 vectors near (1,1) + one planted far at (9,9)
    val near = (1L to 9L).map(i =>
      (i, "a", Seq(1.0f + i * 0.01f, 1.0f - i * 0.01f)))
    val vecs = (near ++ Seq(
      (10L, "a", Seq(9.0f, 9.0f)),
      (11L, "b", Seq(5.0f, 5.0f)))) // singleton group
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidOutliers(vecs, "label", zThreshold = 2.0)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toList.sortBy(_._1)
    val flagged = got.filter(_._3).map(_._1)
    assert(flagged === List(10L), s"only the planted vector flags: $got")
    val singleton = got.find(_._1 == 11L).get
    assert(singleton._2.isEmpty && !singleton._3,
      "singleton group: null z, not an outlier")
  }

  test("minhash LSH finds a near-duplicate pair") {
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val docs = Seq(
      (1L, base), (2L, base + "tail edit"), (3L, "совершенно другой текст " * 10)
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhash of identical docs has hamming 0; pairs found via banding") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zq xw vv uu tt ss rr qq pp oo nn mm")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhash nChunks: banding equals brute force for 4, 6, and 7 chunks") {
    val rnd = new scala.util.Random(11)
    def randWords(n: Int) =
      Seq.fill(n)("w" + rnd.nextInt(500)).mkString(" ")
    // planted near-pairs (shared long bodies, small edits) + background
    val bodies = Vector.fill(15)(randWords(60))
    val docs = (bodies.zipWithIndex.flatMap { case (b, i) =>
      Seq((2L * i, b), (2L * i + 1, b + " " + randWords(2)))
    } ++ (100 until 140).map(i => (i.toLong, randWords(50))))
      .toDF("doc_id", "text")
    val fps = Dedup.simhash(docs).as[(Long, Long)].collect()
    def brute(maxH: Int): Set[(Long, Long, Long)] = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= maxH
    } yield (a, b, h.toLong)).toSet
    for (n <- Seq(4, 6, 7); maxH <- Seq(3, n - 1)) {
      val got = Dedup.simhashPairs(docs, maxHamming = maxH, nChunks = n)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === brute(maxH), s"nChunks=$n maxHamming=$maxH")
    }
    // pigeonhole guard: maxHamming >= nChunks is rejected, not silent recall loss
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 4, nChunks = 4)
    }
  }

  test("minhash LSH: exact precision, and recall on planted near-dupes") {
    // planted pairs share long common bodies (shingle Jaccard >= ~0.8,
    // where 16x4 banding detects with prob ~1-(1-J^4)^16 > 0.999);
    // deterministic given the engine's fixed hash family
    val rnd = new scala.util.Random(7)
    def randText(len: Int) =
      Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    val bodies = Vector.fill(10)(randText(400))
    val docs = (bodies.zipWithIndex.flatMap { case (b, i) =>
      Seq((2L * i, b), (2L * i + 1, b + randText(20))) // planted pair
    } ++ (100 until 130).map(i => (i.toLong, randText(200))))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()

    def sh(s: String) = s.sliding(5).toSet
    val byId = docs.as[(Long, String)].collect().toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(byId(a)), sh(byId(b)))
      (x & y).size.toDouble / (x | y).size
    }
    // precision is exact: every emitted pair verified >= threshold
    got.foreach { case (a, b, j) =>
      assert(jac(a, b) >= 0.5, s"false positive ($a,$b)")
      assert(math.abs(jac(a, b) - j) < 1e-9)
    }
    // recall: every planted high-J pair is found
    val found = got.map(p => (p._1, p._2)).toSet
    (0 until 10).foreach { i =>
      assert(found.contains((2L * i, 2L * i + 1)), s"missed planted pair $i")
    }
  }

  test("delta near-dedup equals full recompute restricted to delta-touching pairs") {
    val rnd = new scala.util.Random(11)
    def randText(len: Int) =
      Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    val bodies = Vector.fill(8)(randText(400))
    val docs = (bodies.zipWithIndex.flatMap { case (b, i) =>
      Seq((2L * i, b), (2L * i + 1, b + randText(20)))
    } ++ (100 until 120).map(i => (i.toLong, randText(200))))
      .toDF("doc_id", "text")
    // delta = odd ids (one side of each planted pair + half the noise)
    val delta = docs.filter($"doc_id" % 2 === 1)
    val corpus = docs.filter($"doc_id" % 2 === 0)

    val got = Dedup.minhashLshDelta(delta,
      Dedup.signatureTable(corpus), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashLsh(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1).toSet
    assert(got === full)
    assert(got.nonEmpty) // the planted pairs all touch the delta
  }

  test("delta near-dedup never re-shingles corpus text (plan reads the index)") {
    val docs = Seq((1L, "alpha beta gamma delta " * 20),
      (2L, "alpha beta gamma delta " * 20 + "tail"),
      (3L, "totally different content here " * 15)).toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft_sigs_").toString
    Dedup.signatureTable(docs.filter($"doc_id" =!= 2))
      .write.parquet(s"$base/sigs")
    // parquet-backed delta too: a local Seq relation gets its projection
    // constant-folded by ConvertToLocalRelation, hiding the kernel from
    // the plan this test counts
    docs.filter($"doc_id" === 2).write.parquet(s"$base/delta")
    val persisted = spark.read.parquet(s"$base/sigs")

    val out = Dedup.minhashLshDelta(
      spark.read.parquet(s"$base/delta"), persisted)
    // nothing in the outer plan recomputes signatures: the only
    // shingle/minhash kernels live in the delta's one cached projection
    // (an InMemoryRelation leaf), and the corpus contributes a parquet
    // relation of (id, sig, ng) — it has no text to re-shingle at all
    val lp = out.queryExecution.optimizedPlan
    val kernels = lp.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e if e.prettyName.startsWith("graft_minhash") ||
          e.prettyName.startsWith("graft_shingle") => e
      })
    }.flatten
    assert(kernels.isEmpty, s"kernel recompute outside the delta cache:\n$lp")
    val corpusRels = lp.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.schema.fieldNames.sameElements(Array("id", "sig", "ng")) => r
    }
    assert(corpusRels.nonEmpty, s"persisted index not read as parquet:\n$lp")
    // and the delta side IS computed (once, inside its cached projection)
    assert(lp.toString.contains("graft_minhash_sig_of"))
    assert(out.as[(Long, Long, Double)].collect().map(p => (p._1, p._2))
      .toSet === Set((1L, 2L)))
  }

  test("IVF coarse-quantizer training (the shared KMeans Lloyd path) " +
    "separates well-separated clusters") {
    val rnd = new scala.util.Random(3)
    val centersTrue = Array(Array.fill(8)(0f), Array.fill(8)(10f),
      Array.tabulate(8)(i => if (i % 2 == 0) -10f else 10f))
    val emb = (0 until 300).map { i =>
      val c = centersTrue(i % 3)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    // centroids come back in the KMeans QUANTIZED-unit relation —
    // dequantize (/2^20) to compare in input units
    val centers = Similarity.ivfCentroids(emb, nLists = 3)
      .select($"centroid").as[Seq[Double]].collect()
      .map(_.map(_ / 1048576.0))
    assert(centers.length === 3)
    // each true center has a learned centroid within noise distance
    centersTrue.foreach { t =>
      val best = centers.map(c =>
        c.zip(t).map { case (x, y) => (x - y) * (x - y) }.sum).min
      assert(best < 1.0, s"no centroid near ${t.toSeq}")
    }
  }

  test("ngram Jaccard SSJoin equals brute-force within-block join " +
    "(prefix filter is lossless)") {
    // randomized corpus with heavy shared-gram overlap so prefix/size
    // bounds are exercised near the threshold; a reversed PPJoin prefix
    // asymmetry (round-1 advice) drops pairs on corpora like this
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0 until 60).map { i =>
      val len = 3 + rnd.nextInt(10)
      val text = Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" ")
      (i.toLong, s"b${i % 3}", text)
    }.toDF("doc_id", "source", "text")
    def grams(s: String): Set[String] =
      if (s.length < 3) Set.empty else s.sliding(3).toSet
    val rows = docs.select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    // 0.8 and 0.55 are not FP-exact: double prefix arithmetic loses
    // pairs at exactly these thresholds (review round 2)
    for (t <- Seq(0.5, 0.55, 0.8)) {
      val want = (for {
        a <- rows; b <- rows
        if a._2 == b._2 && a._1 < b._1 && grams(a._3).nonEmpty
        inter = (grams(a._3) & grams(b._3)).size
        uni = (grams(a._3) | grams(b._3)).size
        if uni > 0 && inter.toDouble / uni >= t
      } yield (a._1, b._1)).toSet
      // every route must equal brute force: the dense within-block
      // verify (default at this corpus size) and the prefix join with
      // the doc-local rank kernel (allPairsMaxDocs = 0 forces the
      // prefix path)
      val routes = Seq(
        "dense" -> (() => Dedup.ngramJaccardBlocked(
          docs, "source", threshold = t, n = 3)),
        "prefix-kernel" -> (() => Dedup.ngramJaccardBlocked(
          docs, "source", threshold = t, n = 3, allPairsMaxDocs = 0)))
      for ((label, run) <- routes) {
        val got = run().select("doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
        assert(got === want, s"threshold $t route $label")
      }
    }
  }

  test("ngram Jaccard SSJoin: advice counterexample shape (small doc " +
    "overlapping large doc exactly at threshold) is emitted") {
    // J = 3/6 = 0.5 with |a|=4 < |b|=5 grams — the pair the reversed
    // asymmetry silently dropped
    val docs = Seq(
      (1L, "blk", "abcdef"),   // grams: abc bcd cde def
      (2L, "blk", "zabcdeq")   // grams: zab abc bcd cde deq
    ).toDF("doc_id", "source", "text")
    for (maxDocs <- Seq(2048, 0)) { // dense route and forced prefix route
      val got = Dedup.ngramJaccardBlocked(docs, "source", threshold = 0.5,
        n = 3, allPairsMaxDocs = maxDocs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 2L)), s"allPairsMaxDocs=$maxDocs")
    }
  }

  test("ngram Jaccard SSJoin: mixed routing (one dense block, one " +
    "sparse block) unions both routes and equals brute force") {
    // block "small" (4 docs) goes all-pairs, block "big" (12 docs) goes
    // through the prefix join when allPairsMaxDocs sits between them
    val rnd = new scala.util.Random(7)
    val words = Vector("red", "green", "blue", "cyan", "teal", "plum")
    val docs = (0 until 16).map { i =>
      val blk = if (i < 4) "small" else "big"
      val text = Seq.fill(4 + rnd.nextInt(6))(
        words(rnd.nextInt(words.size))).mkString(" ")
      (i.toLong, blk, text)
    }.toDF("doc_id", "source", "text")
    def grams(s: String): Set[String] =
      if (s.length < 3) Set.empty else s.sliding(3).toSet
    val rows = docs.as[(Long, String, String)].collect()
    val want = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && a._1 < b._1 && grams(a._3).nonEmpty
      inter = (grams(a._3) & grams(b._3)).size
      uni = (grams(a._3) | grams(b._3)).size
      if uni > 0 && inter.toDouble / uni >= 0.5
    } yield (a._1, b._1)).toSet
    val got = Dedup.ngramJaccardBlocked(docs, "source", threshold = 0.5,
      n = 3, allPairsMaxDocs = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("ngram Jaccard SSJoin: subset pair at FP-inexact threshold 0.8 " +
    "(double prefix arithmetic would drop it)") {
    // grams(a) ⊂ grams(b), J = 4/5 = 0.8: probing prefix must be
    // 5−⌈0.8·5⌉+1 = 2, but floor((1.0−0.8)·5)+1 evaluates to 1 in
    // doubles — exact decimal bounds keep the pair
    val docs = Seq(
      (1L, "blk", "abcdef"),   // grams: abc bcd cde def
      (2L, "blk", "abcdefg")   // grams: abc bcd cde def efg
    ).toDF("doc_id", "source", "text")
    for (maxDocs <- Seq(2048, 0)) { // dense route and forced prefix route
      val got = Dedup.ngramJaccardBlocked(docs, "source", threshold = 0.8,
        n = 3, allPairsMaxDocs = maxDocs)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((1L, 2L, 0.8)), s"allPairsMaxDocs=$maxDocs")
    }
  }

  test("corpus split assignment: deterministic, proportional, " +
    "join-stable sampling") {
    import graft.operators.Corpus
    val keys = (0 until 2000).map(_.toLong).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign() = keys.select(col("id"),
      Corpus.assignSplit(col("id"), splits).as("s"))
      .as[(Long, String)].collect().toMap
    val a1 = assign()
    assert(a1 === assign()) // deterministic
    val counts = a1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 1450 && counts("train") < 1750, counts.toString)
    assert(counts("val") > 100 && counts("val") < 320, counts.toString)
    assert(counts("test") > 100 && counts("test") < 320, counts.toString)
    // join-stability: sampling two relations on the same key keeps the
    // same key set in both
    val left = keys.withColumn("l", col("id") * 2)
    val right = keys.withColumn("r", col("id") * 3)
    val sl = Corpus.sampleByHash(left, col("id"), 0.3)
      .select("id").as[Long].collect().toSet
    val sr = Corpus.sampleByHash(right, col("id"), 0.3)
      .select("id").as[Long].collect().toSet
    assert(sl === sr)
    assert(sl.size > 400 && sl.size < 800, sl.size.toString)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(col("id"), Seq("a" -> 0.5, "b" -> 0.3))
    }
  }

  test("corpus mixing: per-source rates, default rate, determinism, " +
    "subset-of-sample consistency") {
    import graft.operators.Corpus
    val df = (0 until 1200).map(i =>
      (i.toLong, s"src${i % 3}")).toDF("id", "src")
    val mixed = Corpus.mixBySource(df, col("id"), col("src"),
      Map("src0" -> 0.25, "src1" -> 0.5))
    val counts = mixed.groupBy("src").count()
      .as[(String, Long)].collect().toMap
    assert(counts("src2") === 400L) // default rate 1.0 keeps everything
    assert(counts("src0") > 60 && counts("src0") < 140, counts.toString)
    assert(counts("src1") > 150 && counts("src1") < 250, counts.toString)
    // determinism + rate monotonicity: the 0.25 sample of a source is a
    // subset of its 0.5 sample (same hash, higher threshold)
    val lo = Corpus.mixBySource(df, col("id"), col("src"),
      Map("src0" -> 0.25)).filter(col("src") === "src0")
      .select("id").as[Long].collect().toSet
    val hi = Corpus.mixBySource(df, col("id"), col("src"),
      Map("src0" -> 0.5)).filter(col("src") === "src0")
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("per-group caps: row cap and token-budget prefix, deterministic " +
    "under repartitioning") {
    import graft.operators.Corpus
    val df = (0 until 600).map(i => (i.toLong, s"g${i % 3}", 10L + i % 7))
      .toDF("id", "grp", "toks")
    val capped = Corpus.capPerGroup(df.repartition(9), col("grp"),
      col("id"), k = 25)
    val byGrp = capped.groupBy("grp").count().as[(String, Long)]
      .collect().toMap
    assert(byGrp === Map("g0" -> 25L, "g1" -> 25L, "g2" -> 25L))
    // survivors are the k lowest hash positions — recompute on driver
    val hashes = df.select(col("id"),
      Corpus.hashUnit(col("id")).as("u"), col("grp"))
      .as[(Long, Double, String)].collect()
    val want = hashes.groupBy(_._3).values.flatMap(
      _.sortBy(h => (h._2, h._1)).take(25).map(_._1)).toSet
    assert(capped.select("id").as[Long].collect().toSet === want)
    // repartitioning must not change membership
    val again = Corpus.capPerGroup(df.repartition(2), col("grp"),
      col("id"), k = 25).select("id").as[Long].collect().toSet
    assert(again === want)

    // token budget: per-group prefix in hash order, cum <= budget
    val budget = 300L
    val kept = Corpus.capTokensPerGroup(df, col("grp"), col("id"),
      col("toks"), budget)
    val keptIds = kept.select("id").as[Long].collect().toSet
    val tokOf = df.as[(Long, String, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    val wantTok = hashes.groupBy(_._3).values.flatMap { g =>
      val ordered = g.sortBy(h => (h._2, h._1)).map(_._1)
      val cums = ordered.scanLeft(0L)((acc, id) => acc + tokOf(id)).tail
      ordered.zip(cums).takeWhile(_._2 <= budget).map(_._1)
    }.toSet
    assert(keptIds === wantTok)
    kept.groupBy("grp").agg(sum("toks").as("t")).as[(String, Long)]
      .collect().foreach { case (g, t) => assert(t <= budget, s"$g: $t") }
    // null keys drop; bad args rejected
    val withNull = Seq((Some(1L), "g", 5L), (None, "g", 5L))
      .toDF("id", "grp", "toks")
    assert(Corpus.capPerGroup(withNull, col("grp"), col("id"), 10)
      .count() === 1L)
    intercept[IllegalArgumentException] {
      Corpus.capPerGroup(df, col("grp"), col("id"), 0)
    }
    intercept[IllegalArgumentException] {
      Corpus.capTokensPerGroup(df, col("grp"), col("id"), col("toks"), 0L)
    }
  }

  test("corpus chunking: coverage, overlap, short tail, degenerate texts") {
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "abcdefghij"), // 10 chars
      (2L, "xy"),         // shorter than one chunk
      (3L, ""),           // empty: no chunks
      (4L, null)          // null: no chunks
    ).toDF("doc_id", "text")
    val got = Corpus.chunk(docs, "doc_id", "text",
      chunkChars = 4, overlapChars = 1)
      .as[(Long, Int, String, Long)].collect().toSet
    // step 3: starts 1, 4, 7, 10 — every char covered, 1-char overlap
    assert(got === Set(
      (1L, 0, "abcd", 4L), (1L, 1, "defg", 4L),
      (1L, 2, "ghij", 4L), (1L, 3, "j", 1L),
      (2L, 0, "xy", 2L)))
    intercept[IllegalArgumentException] {
      Corpus.chunk(docs, "doc_id", "text", chunkChars = 4, overlapChars = 4)
    }
  }

  test("exact percentiles: quantile_cont semantics, distributed plan; " +
    "approx variant tracks exact") {
    import graft.operators.Corpus
    // group a: 1..5 -> p50 = 3, p90 = 0.9*4 = 3.6 -> 4.6? no: values
    // 1..5 sorted, pos = 0.9*4 = 3.6 -> v[3] + 0.6*(v[4]-v[3]) = 4.6
    val df = (Seq.tabulate(5)(i => ("a", (i + 1) * 10)) ++
      Seq(("b", 7))).toDF("g", "v")
    val got = Corpus.exactPercentiles(df, "g", col("v"),
      Seq("p50" -> 0.5, "p90" -> 0.9))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") === ((30.0, 46.0)))
    assert(got("b") === ((7.0, 7.0))) // single value: every percentile
    // approx variant is close to exact on a bigger column
    val big = (1 to 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val ap = Corpus.approxPercentiles(big, "g", col("v"),
      Seq("p50" -> 0.5, "p99" -> 0.99))
      .as[(String, Double, Double)].collect().head
    assert(math.abs(ap._2 - 500) <= 2 && math.abs(ap._3 - 990) <= 3,
      ap.toString)
  }

  test("global percentiles: distributed rank route is value-identical " +
    "to the keyed route; empty input yields empty output; no " +
    "partition-less window in any plan it runs") {
    import graft.operators.Corpus
    val rnd = new scala.util.Random(7)
    val big = (1 to 5000).map(_ => ("all", rnd.nextInt(100000).toDouble))
      .toDF("g", "v")
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val keyed = Corpus.exactPercentiles(big, "g", col("v"), ps)
      .drop("g").as[(Double, Double, Double, Double)].collect().head
    // exercise the multi-range path: 5000 rows over 8 ranges
    val global = Corpus.exactPercentilesGlobal(big, col("v"), ps,
      numRanges = 8).as[(Double, Double, Double, Double)].collect().head
    assert(global === keyed)
    // fewer rows than ranges (degenerate partitioning) still exact
    val tiny = Seq(1.0, 2.0, 3.0).toDF("v")
    val t = Corpus.exactPercentilesGlobal(tiny, col("v"),
      Seq("p50" -> 0.5)).as[Double].collect()
    assert(t === Array(2.0))
    // empty input: empty frame (matching the keyed route's empty groupBy)
    val e = Corpus.exactPercentilesGlobal(
      tiny.filter(col("v") < 0), col("v"), Seq("p50" -> 0.5))
    assert(e.count() === 0 && e.columns === Array("p50"))
  }

  test("corpus chunking property: dropping each chunk's overlap prefix " +
    "reconstructs the text exactly (random lengths/params)") {
    import graft.operators.Corpus
    val rnd = new scala.util.Random(13)
    val docs = (0 until 40).map { i =>
      val len = rnd.nextInt(300)
      (i.toLong, rnd.alphanumeric.take(len).mkString)
    }
    val df = docs.toDF("doc_id", "text")
    for ((chunk, overlap) <- Seq((50, 10), (64, 0), (7, 3))) {
      val step = chunk - overlap
      val got = Corpus.chunk(df, "doc_id", "text", chunk, overlap)
        .as[(Long, Int, String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      for ((id, text) <- docs if text.nonEmpty) {
        val chunks = got(id)
        // chunk i starts at i·step, so dropping each later chunk's
        // `overlap`-char prefix and concatenating rebuilds the text
        val rebuilt = chunks.map { case (_, idx, s, _) =>
          if (idx == 0) s else s.drop(overlap.min(s.length))
        }.mkString
        assert(rebuilt === text, s"id=$id chunk=$chunk ov=$overlap")
        // each chunk's width is exactly min(chunkChars, remaining text)
        // (with chunk > step, several TRAILING chunks run short, not
        // just the last one)
        chunks.foreach { case (_, idx, _, nChars) =>
          assert(nChars === math.min(chunk, text.length - idx * step).toLong,
            s"id=$id idx=$idx")
        }
      }
      for ((id, text) <- docs if text.isEmpty)
        assert(!got.contains(id))
    }
  }

  test("decontaminate equals brute-force shared-gram counting on " +
    "random overlapping docs") {
    val rnd = new scala.util.Random(17)
    val alphabet = "abcd" // tiny alphabet forces heavy gram overlap
    def randText(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (0 until 50).map(i => (i.toLong, randText(20 + rnd.nextInt(60))))
    val bench = (0 until 5).map(i => (100L + i, randText(30)))
    val n = 4
    def grams(s: String) =
      if (s.length < n) Set.empty[String] else s.sliding(n).toSet
    val benchGrams = bench.flatMap(b => grams(b._2)).toSet
    val want = docs.map { case (id, t) =>
      id -> (grams(t) & benchGrams).size.toLong
    }.toMap
    val got = Dedup.decontaminate(docs.toDF("doc_id", "text"),
      bench.toDF("doc_id", "text"), minSharedGrams = 5, n = n)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(got === want)
  }

  test("decontaminate: semi-join route equals broadcast route; cap error path") {
    val rnd = new scala.util.Random(23)
    def randText(n: Int) =
      (0 until n).map(_ => "abcd"(rnd.nextInt(4))).mkString
    val docs = (0 until 40).map(i => (i.toLong, randText(20 + rnd.nextInt(60))))
      .toDF("doc_id", "text")
    val bench = (0 until 5).map(i => (100L + i, randText(30)))
      .toDF("doc_id", "text")
    val viaBroadcast = Dedup.decontaminate(docs, bench,
      minSharedGrams = 5, n = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    // cap of 1 gram forces every real benchmark through the join route
    val viaJoin = Dedup.decontaminate(docs, bench,
      minSharedGrams = 5, n = 4, maxBroadcastGrams = 1L)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaJoin === viaBroadcast)
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminate(docs, bench, maxBroadcastGrams = 0L)
    }
    assert(e.getMessage.contains("maxBroadcastGrams"))
  }

  test("decontaminateBloom equals decontaminate, even with a saturated " +
    "1-bit-per-gram filter (false positives die in the exact join)") {
    val rnd = new scala.util.Random(31)
    def randText(n: Int) =
      (0 until n).map(_ => "abcd"(rnd.nextInt(4))).mkString
    val docs = ((0 until 40).map(i => (i.toLong, randText(20 + rnd.nextInt(60))))
      :+ (40L, "ab") // shorter than the gram width -> null gram array
      ).toDF("doc_id", "text")
    val bench = (0 until 5).map(i => (100L + i, randText(30)))
      .toDF("doc_id", "text")
    val exact = Dedup.decontaminate(docs, bench, minSharedGrams = 5, n = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    val viaBloom = Dedup.decontaminateBloom(docs, bench,
      minSharedGrams = 5, n = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(viaBloom === exact)
    // near-saturated filter: the prefilter admits almost everything,
    // results must still be exact
    val saturated = Dedup.decontaminateBloom(docs, bench,
      minSharedGrams = 5, n = 4, bitsPerGram = 1, numHashes = 1)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(saturated === exact)
  }

  test("contaminationScore equals brute-force gram-overlap fraction; " +
    "semi-join route equals broadcast route; gram-less docs score 0") {
    val rnd = new scala.util.Random(41)
    def randText(n: Int) =
      (0 until n).map(_ => "abcd"(rnd.nextInt(4))).mkString
    val gn = 4
    val docs = ((0 until 40).map(i =>
      (i.toLong, randText(20 + rnd.nextInt(60))))
      :+ (40L, "ab") // shorter than the gram width
      ).toDF("doc_id", "text")
    val bench = (0 until 5).map(i => (100L + i, randText(30)))
    def grams(s: String) =
      if (s.length < gn) Set.empty[String] else s.sliding(gn).toSet
    val bg = bench.flatMap(b => grams(b._2)).toSet
    val want = docs.as[(Long, String)].collect().map { case (id, t) =>
      val g = grams(t)
      val sh = (g & bg).size
      (id, g.size.toLong, sh.toLong,
        if (g.nonEmpty) sh.toDouble / g.size else 0.0)
    }.toSet
    val got = Dedup.contaminationScore(docs,
      bench.toDF("doc_id", "text"), n = gn)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    val viaJoin = Dedup.contaminationScore(docs,
      bench.toDF("doc_id", "text"), n = gn, maxBroadcastGrams = 1L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaJoin === want)
    val e = intercept[IllegalArgumentException] {
      Dedup.contaminationScore(docs, bench.toDF("doc_id", "text"),
        maxBroadcastGrams = 0L)
    }
    assert(e.getMessage.contains("maxBroadcastGrams"))
  }

  test("approxPercentilesGated: rank audit passes on uniform and " +
    "ties-heavy inputs, estimates track exact on the uniform one") {
    import graft.operators.Corpus
    val uniform = (1 to 2000).map(i => ("a", i.toDouble)) ++
      (1 to 500).map(i => ("b", (i % 7).toDouble)) // heavy ties
    val df = uniform.toDF("g", "v")
    val got = Corpus.approxPercentilesGated(df, "g", col("v"),
      Seq("p50" -> 0.5, "p90" -> 0.9), accuracy = 1000)
      .as[(String, String, Double, Long, Double, Boolean)].collect()
    assert(got.length === 4)
    assert(got.forall(_._6), got.mkString("; "))
    val a = got.filter(_._1 == "a").map(r => r._2 -> r._5).toMap
    assert(math.abs(a("p50") - 1000) <= 5 && math.abs(a("p90") - 1800) <= 8,
      a.toString)
    got.foreach { r =>
      assert(r._4 === (if (r._1 == "a") 2000L else 500L))
    }
    val err = intercept[IllegalArgumentException] {
      Corpus.approxPercentilesGated(df, "g", col("v"),
        Seq("bad" -> 1.5))
    }
    assert(err.getMessage.contains("percentiles"))
  }

  test("pii scrub + normalization: masking, stopword removal, " +
    "whitespace collapse") {
    import graft.functions.TextAnalysis
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "call 415-555-1234 or 415 555 9876",
      "the quick fox is in a hurry and   the end",
      "clean text"
    ).toDF("text").select(
      TextAnalysis.normalizeText(TextAnalysis.scrubPii($"text")).as("t"),
      TextAnalysis.stopwordRemovals($"text").as("n"))
      .as[(String, Int)].collect()
    assert(df(0) === (("mail <EMAIL> now", 0)))
    assert(df(1) === (("call <PHONE> or <PHONE>", 0)))
    assert(df(2) === (("quick fox hurry end", 6)))
    assert(df(3) === (("clean text", 0)))
  }

  test("pii scrub: IPs, SSN, national-ID, and card numbers mask; " +
    "non-PII text is preserved verbatim") {
    import graft.functions.TextAnalysis
    def scrub(s: String): String =
      Seq(s).toDF("text").select(TextAnalysis.scrubPii($"text"))
        .as[String].head()
    assert(scrub("host 192.168.1.254 up") === "host <IP> up")
    assert(scrub("at 2001:0db8:85a3:0000:0000:8a2e:0370:7334 end")
      === "at <IP> end")
    assert(scrub("fe80::8a2e:370:7334 compressed") === "<IP> compressed")
    assert(scrub("ssn 123-45-6789.") === "ssn <SSN>.")
    assert(scrub("nino AB123456C filed") === "nino <NID> filed")
    assert(scrub("visa 4111111111111111 ok") === "visa <CC> ok")
    assert(scrub("card 5500-0000-0000-0004 ok") === "card <CC> ok")
    assert(scrub("amex 371449635398431 ok") === "amex <CC> ok")
    // masked classes compose in one pass without eating each other
    assert(scrub("192.168.0.1 called 415-555-1234 re 4111 1111 1111 1111")
      === "<IP> called <PHONE> re <CC>")
    // non-PII stays byte-identical: versions, times, short numbers,
    // 9-digit runs without SSN dashes, MAC-ish colon groups
    for (s <- Seq("spark 3.5.1 released", "meet at 12:30:45 tomorrow",
        "order #12345678 of 987654321 units", "aa:bb:cc:dd:ee:ff link",
        "chapter 4 page 1111", "plain prose with no numbers at all"))
      assert(scrub(s) === s, s)
  }

  test("luhnValid: checksum over digits, separators ignored") {
    import graft.functions.TextAnalysis
    val got = Seq("4111111111111111", "4111111111111112",
      "5500-0000-0000-0004", "371449635398431", "79927398713",
      "79927398710", "7", "no digits", null.asInstanceOf[String])
      .toDF("n").select(TextAnalysis.luhnValid($"n")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
    assert(got.toSeq === Seq(Some(true), Some(false), Some(true),
      Some(true), Some(true), Some(false), Some(false), Some(false), None))
  }

  test("decontaminate: shared-gram counting vs any benchmark doc, " +
    "threshold flag, short/degenerate texts") {
    val docs = Seq(
      (1L, "abcdefghijklmno"),   // shares a long run with the benchmark
      (2L, "zzzzyyyyxxxxwwww"),  // shares nothing
      (3L, "abcdefgh"),          // exactly one 8-gram, in the benchmark
      (4L, "short"),             // under the gram width -> 0 shared
      (5L, null)                 // null text -> 0 shared
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "abcdefghijk")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, bench,
      minSharedGrams = 2, n = 8)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // benchmark 8-grams of "abcdefghijk": abcdefgh bcdefghi cdefghij defghijk
    assert(got(1L) === ((4L, true)))  // shares all four
    assert(got(2L) === ((0L, false)))
    assert(got(3L) === ((1L, false))) // one shared, below threshold 2
    assert(got(4L) === ((0L, false)))
    assert(got(5L) === ((0L, false)))
  }

  test("repetition signals: duplicate word and gram fractions") {
    import graft.functions.TextAnalysis
    val got = Seq(
      (1L, "spam spam spam spam"), // 4 words, 1 distinct -> 0.75
      (2L, "all words differ here"),
      (3L, "aaaa"),                // grams: aa aa -> 1 distinct of 2
      (4L, ""),
      (5L, null)
    ).toDF("doc_id", "text").select(
      col("doc_id"),
      TextAnalysis.dupWordFraction(col("text")).as("w"),
      TextAnalysis.dupGramFraction(col("text"), 2).as("g"))
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // 18 char 2-grams, 5 distinct (sp pa am "m " " s") -> 13/18
    assert(got(1L) === ((Some(0.75), Some(0.722222))))
    assert(got(2L)._1 === Some(0.0))
    // "aaaa" 2-grams: aa aa aa -> 3 total, 1 distinct -> 2/3
    assert(got(3L) === ((Some(0.0), Some(0.666667))))
    assert(got(4L) === ((Some(0.0), Some(0.0))))
    assert(got(5L) === ((None, None)))
  }

  test("recallGate: per-query floor flags, kth cosine, zero-hit queries") {
    import graft.operators.Similarity
    // exact top-3 per query; approx recovered 2/3, 1/3, 0/3
    val exact = Seq(
      (1L, 11L, 0.9), (1L, 12L, 0.8), (1L, 13L, 0.7),
      (2L, 21L, 0.6), (2L, 22L, 0.5), (2L, 23L, 0.4),
      (3L, 31L, 0.3), (3L, 32L, 0.2), (3L, 33L, 0.1)
    ).toDF("query_id", "vec_id", "cosine")
    val approx = Seq(
      (1L, 11L), (1L, 13L), (1L, 99L), // 2 hits + 1 non-exact neighbor
      (2L, 23L), (2L, 98L), (2L, 97L)  // 1 hit; query 3: nothing found
    ).toDF("query_id", "vec_id")
    val got = Similarity.recallGate(approx, exact, floor = 0.5)
      .as[(Long, Double, Boolean)].collect().toSet
    assert(got === Set((1L, 0.7, true), (2L, 0.4, false), (3L, 0.1, false)))
  }

  test("asof lookup: inclusive and strict semantics, ties, no-match null") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq( // (key, time, price)
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:00"), 101.0), // same-instant duplicate
      (1L, ts("2024-01-01 12:00:00"), 110.0),
      (2L, ts("2024-01-01 11:00:00"), 50.0)
    ).toDF("k", "t", "price")
    val trades = Seq( // (trade_id, key, time)
      (10L, 1L, ts("2024-01-01 10:00:00")), // at-instant
      (11L, 1L, ts("2024-01-01 11:00:00")), // between quotes
      (12L, 1L, ts("2024-01-01 13:00:00")), // after last quote
      (13L, 2L, ts("2024-01-01 10:30:00")), // before any quote
      (14L, 3L, ts("2024-01-01 10:00:00"))  // key with no quotes
    ).toDF("trade_id", "k", "t")

    def run(inclusive: Boolean) = AsofJoin.asofLookup(
      trades, quotes, col("k"), col("k"), col("t"), col("t"),
      col("price"), "px", Seq(col("trade_id")), inclusive)
      .as[(Long, Option[Double])].collect().toMap

    val incl = run(inclusive = true)
    assert(incl === Map(10L -> Some(101.0), // ≤: same-instant max wins
      11L -> Some(101.0), 12L -> Some(110.0), 13L -> None, 14L -> None))
    val strict = run(inclusive = false)
    assert(strict === Map(10L -> None, // <: same-instant quotes invisible
      11L -> Some(101.0), 12L -> Some(110.0), 13L -> None, 14L -> None))
  }

  test("range join: exact tolerance band, bucket boundaries, key " +
    "separation, each pair once") {
    import graft.operators.RangeJoin
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq( // (id, key, time)
      (1L, "k1", ts("2024-01-01 00:00:00")),
      (2L, "k1", ts("2024-01-01 00:59:59")), // within 1h of 1 (edge)
      (3L, "k1", ts("2024-01-01 01:00:01")), // within 1h of 2, not 1
      (4L, "k1", ts("2024-01-01 05:00:00")), // isolated
      (5L, "k2", ts("2024-01-01 00:30:00"))  // other key, overlapping time
    ).toDF("id", "k", "t")
    val pairs = RangeJoin.withinTolerance(rows, rows,
      col("k"), col("k"), col("t"), col("t"), tolSec = 3600L,
      Seq(col("id").as("a")), Seq(col("id").as("b")))
      .filter(col("a") < col("b"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(pairs === Seq((1L, 2L), (2L, 3L)))
    // exactly-at-tolerance matches (inclusive): 00:00:00 vs 01:00:00
    val edge = Seq((1L, "k", ts("2024-01-01 00:00:00")),
      (2L, "k", ts("2024-01-01 01:00:00"))).toDF("id", "k", "t")
    val ep = RangeJoin.withinTolerance(edge, edge,
      col("k"), col("k"), col("t"), col("t"), tolSec = 3600L,
      Seq(col("id").as("a")), Seq(col("id").as("b")))
      .filter(col("a") < col("b")).as[(Long, Long)].collect().toSeq
    assert(ep === Seq((1L, 2L)))
  }

  test("neighborCounts: both routes equal brute force on random data; " +
    "nulls excluded; includeSelf") {
    import graft.operators.RangeJoin
    import java.sql.Timestamp
    val rnd = new scala.util.Random(11)
    def t(off: Int) = new Timestamp(1700000000000L + off * 500L) // 0.5s grid
    val rows = (0 until 150).map(i =>
      (i.toLong, (rnd.nextInt(4)).toString, t(rnd.nextInt(120))))
    val df = rows.toDF("id", "k", "t")
    val want = rows.map { case (id, k, tt) =>
      id -> rows.count { case (id2, k2, t2) =>
        id2 != id && k2 == k &&
          math.abs(t2.getTime - tt.getTime) <= 10000L
      }.toLong
    }.toMap
    for (maxWin <- Seq(10000000L, 0L)) { // window route, bucket route
      val got = RangeJoin.neighborCounts(df, col("id"), col("k"), col("t"),
        tolSec = 10L, maxRowsPerKeyForWindow = maxWin)
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"maxRowsPerKeyForWindow=$maxWin")
    }
    // includeSelf adds exactly one to every count
    val self = RangeJoin.neighborCounts(df, col("id"), col("k"), col("t"),
      tolSec = 10L, includeSelf = true)
      .as[(Long, Long)].collect().toMap
    assert(self === want.map { case (k, v) => k -> (v + 1) })
    // null key/time rows are excluded, others unaffected
    val withNulls = (rows.map { case (i, k, tt) => (i, Option(k), Option(tt)) } ++
      Seq((900L, None: Option[String], Option(t(5))),
        (901L, Option("0"), None: Option[Timestamp])))
      .toDF("id", "k", "t")
    val gn = RangeJoin.neighborCounts(withNulls, col("id"), col("k"),
      col("t"), tolSec = 10L)
      .as[(Long, Long)].collect().toMap
    assert(gn === want)
  }

  test("asof lookup equals brute-force latest-predecessor on random " +
    "data (both inclusivities)") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    val rnd = new scala.util.Random(5)
    def t(off: Int) = new Timestamp(1700000000000L + off * 1000L)
    // small time domain forces at-instant collisions and dense overlap
    val trades = (0 until 120).map(i =>
      (i.toLong, (rnd.nextInt(6)).toString, t(rnd.nextInt(40))))
    val quotes = (0 until 80).map(_ =>
      ((rnd.nextInt(6)).toString, t(rnd.nextInt(40)),
        (rnd.nextInt(50) + 1).toDouble))
    val tDf = trades.toDF("trade_id", "k", "t")
    val qDf = quotes.toDF("k", "t", "price")

    // timeSliceSeconds = 7 cuts the 40 s domain into ~6 slices with
    // boundaries landing inside dense regions — the sub-bucketed plan
    // must carry values across every boundary identically
    for (inclusive <- Seq(true, false);
         slices <- Seq(None, Some(7L), Some(1L))) {
      val got = AsofJoin.asofLookup(tDf, qDf, col("k"), col("k"),
        col("t"), col("t"), col("price"), "px", Seq(col("trade_id")),
        inclusive, timeSliceSeconds = slices)
        .as[(Long, Option[Double])].collect().toMap
      val want = trades.map { case (id, k, tt) =>
        val preds = quotes.filter { case (qk, qt, _) =>
          qk == k && (if (inclusive) !qt.after(tt) else qt.before(tt))
        }
        val px = if (preds.isEmpty) None else {
          val tmax = preds.map(_._2.getTime).max
          Some(preds.filter(_._2.getTime == tmax).map(_._3).max)
        }
        id -> px
      }.toMap
      assert(got === want, s"inclusive=$inclusive slices=$slices")
    }
  }

  test("asof forward direction and tolerance equal brute force on " +
    "random data (all inclusivity/slicing/tolerance combos)") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    val rnd = new scala.util.Random(19)
    def t(off: Int) = new Timestamp(1700000000000L + off * 1000L)
    val trades = (0 until 120).map(i =>
      (i.toLong, (rnd.nextInt(6)).toString, t(rnd.nextInt(40))))
    val quotes = (0 until 80).map(_ =>
      ((rnd.nextInt(6)).toString, t(rnd.nextInt(40)),
        (rnd.nextInt(50) + 1).toDouble))
    val tDf = trades.toDF("trade_id", "k", "t")
    val qDf = quotes.toDF("k", "t", "price")

    for (inclusive <- Seq(true, false);
         slices <- Seq(None, Some(7L), Some(1L));
         tol <- Seq(None, Some(5L), Some(0L))) {
      def brute(forward: Boolean) = trades.map { case (id, k, tt) =>
        val cands = quotes.filter { case (qk, qt, _) =>
          qk == k && (
            if (forward) { if (inclusive) !qt.before(tt) else qt.after(tt) }
            else { if (inclusive) !qt.after(tt) else qt.before(tt) })
        }
        val px = if (cands.isEmpty) None else {
          val edge =
            if (forward) cands.map(_._2.getTime).min
            else cands.map(_._2.getTime).max
          val within = tol.forall(s =>
            math.abs(edge - tt.getTime) <= s * 1000L)
          if (within)
            Some(cands.filter(_._2.getTime == edge).map(_._3).max)
          else None
        }
        id -> px
      }.toMap
      val fwd = AsofJoin.asofLookupForward(tDf, qDf, col("k"), col("k"),
        col("t"), col("t"), col("price"), "px", Seq(col("trade_id")),
        inclusive, timeSliceSeconds = slices, toleranceSec = tol)
        .as[(Long, Option[Double])].collect().toMap
      assert(fwd === brute(forward = true),
        s"fwd inclusive=$inclusive slices=$slices tol=$tol")
      val bwd = AsofJoin.asofLookup(tDf, qDf, col("k"), col("k"),
        col("t"), col("t"), col("price"), "px", Seq(col("trade_id")),
        inclusive, timeSliceSeconds = slices, toleranceSec = tol)
        .as[(Long, Option[Double])].collect().toMap
      assert(bwd === brute(forward = false),
        s"bwd inclusive=$inclusive slices=$slices tol=$tol")
    }
    // forward + slicing demands a numeric value column
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofLookupForward(tDf,
        qDf.withColumn("price", col("price").cast("string")),
        col("k"), col("k"), col("t"), col("t"), col("price"), "px",
        Seq(col("trade_id")), timeSliceSeconds = Some(7L))
    }
    assert(e.getMessage.contains("NUMERIC"))
  }

  test("asof sub-bucketing: the event-wide window partitions by " +
    "(key, slice), so a hot key parallelizes across slices") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    val df = Seq((1L, "k", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "k", "t")
    val plan = AsofJoin.asofLookup(df, df, col("k"), col("k"),
      col("t"), col("t"), col("id"), "prev", Seq(col("id")),
      inclusive = true, timeSliceSeconds = Some(3600L))
      .queryExecution.executedPlan.toString
    // the big window's partition spec carries the slice column
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(l =>
      l.contains("_slice") && l.contains("_is_left")), plan)
  }

  test("range join: sub-second precision honored; asof: null right " +
    "keys/times match nothing (SQL equi-join semantics)") {
    import graft.operators.{AsofJoin, RangeJoin}
    import java.sql.Timestamp
    val a = Seq((1L, "k", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "k", "t")
    val b = Seq((2L, "k", new Timestamp(
        Timestamp.valueOf("2024-01-01 00:00:01").getTime + 999)), // +1.999s
      (3L, "k", Timestamp.valueOf("2024-01-01 00:00:01"))) // +1.000s
      .toDF("id", "k", "t")
    val got = RangeJoin.withinTolerance(a, b, col("k"), col("k"),
      col("t"), col("t"), tolSec = 1L,
      Seq(col("id").as("x")), Seq(col("id").as("y")))
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L))) // 1.999s apart excluded, 1.000s kept

    val trades = Seq((10L, Option("k"), Option(Timestamp.valueOf(
      "2024-01-01 10:00:00")))).toDF("trade_id", "k", "t")
    val quotes = Seq(
      (Option.empty[String], Option(Timestamp.valueOf("2024-01-01 09:00:00")),
        111.0), // null key
      (Option("k"), Option.empty[Timestamp], 222.0) // null time
    ).toDF("k", "t", "price")
    val asof = AsofJoin.asofLookup(trades, quotes, col("k"), col("k"),
      col("t"), col("t"), col("price"), "px", Seq(col("trade_id")))
      .as[(Long, Option[Double])].collect().toMap
    assert(asof === Map(10L -> None)) // neither null row matched
    intercept[IllegalArgumentException] {
      AsofJoin.asofLookup(trades, quotes, col("k"), col("k"),
        col("t"), col("t"), col("price"), "_v", Seq(col("trade_id")))
    }
  }

  test("asof lookup: null-valued right rows are skipped, not carried " +
    "(documented latest-non-null contract)") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option(100.0)),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[Double]), // null value
      (2L, ts("2024-01-01 10:00:00"), Option.empty[Double])  // only nulls
    ).toDF("k", "t", "price")
    val trades = Seq(
      (10L, 1L, ts("2024-01-01 12:00:00")), // after the null quote
      (11L, 2L, ts("2024-01-01 12:00:00"))  // key has only null quotes
    ).toDF("trade_id", "k", "t")
    val got = AsofJoin.asofLookup(trades, quotes, col("k"), col("k"),
      col("t"), col("t"), col("price"), "px", Seq(col("trade_id")))
      .as[(Long, Option[Double])].collect().toMap
    // the 11:00 null quote does not reset key 1's lookup; a key with
    // only null-valued quotes behaves as if it had none
    assert(got === Map(10L -> Some(100.0), 11L -> None))
  }

  test("ivf excludes vectors with null ELEMENTS from corpus and probes") {
    val dim = 8
    val withNullElem: Array[java.lang.Float] =
      Array.tabulate(dim)(i => if (i == 3) null
        else java.lang.Float.valueOf(if (i == 0) 1f else 0f))
    val emb = Seq(
      (0L, Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
        .map(java.lang.Float.valueOf)),
      (1L, withNullElem),
      (2L, Array.tabulate(dim)(i => if (i == 0) 0.9f else 0.01f)
        .map(java.lang.Float.valueOf))
    ).toDF("vec_id", "embedding")
    // corpus side: the null-element vector never surfaces as a neighbor
    val got = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0),
      k = 3, nLists = 2, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(2L))
    // probe side: a null-element query yields no rows instead of a
    // raise_error or null-cosine results
    val probed = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 1),
      k = 3, nLists = 2, nProbe = 2).count()
    assert(probed === 0L)
  }

  test("dedup operators tolerate null text rows (dropped, not crashed)") {
    val docs = Seq((1L, "b", "the quick brown fox jumps high"),
      (2L, "b", null), (3L, "b", "the quick brown fox jumps high"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.exact(docs).count() === 2) // null groups separately
    assert(Dedup.minhashLsh(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 3L)))
    assert(Dedup.ngramJaccardBlocked(docs, "source", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 3L)))
    assert(Dedup.simhashPairs(docs).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet === Set((1L, 3L)))
  }

  test("ann paths tolerate null embeddings (excluded from index and " +
    "training)") {
    val dim = 8
    val emb = Seq(
      (0L, Array.tabulate(dim)(i => if (i == 0) 1f else 0f)),
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array.tabulate(dim)(i => if (i == 0) 0.9f else 0.01f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(emb.filter($"embedding".isNotNull),
      emb.filter($"vec_id" === 0), k = 2, nLists = 2, nProbe = 2)
    assert(got.select("vec_id").as[Long].collect().toSet === Set(2L))
    // with the null row left in the corpus: excluded from training AND
    // from the index, not an assignment error
    val trained = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0),
      k = 2, nLists = 2, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(trained === Set(2L))
    val lsh = Similarity.annTopK(emb, emb.filter($"vec_id" === 0),
      k = 2, nBits = 2, nTables = 1, dim = dim)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.subsetOf(Set(2L))) // bucket may or may not collide
  }

  test("cosine top-k: exact neighbors with self excluded") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0.01f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(emb, emb.filter($"vec_id" === 0), k = 2)
      .orderBy($"rnk").select("vec_id").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("ann lsh ranks the near-identical vector first for its query") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val got = Similarity.annTopK(emb, emb.filter($"vec_id" === 0), k = 5,
      nBits = 4, nTables = 2, dim = dim)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
  }

  test("ann ivf ranks the near-identical vector first for its query") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0), k = 5,
      nLists = 4, nProbe = 2)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
  }

  test("pq topk: near-identical vector ranks first (it shares the " +
    "query's codes); parameter validation") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0), k = 5,
      nLists = 1, nProbe = 1, m = 16, ksub = 8)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
    intercept[IllegalArgumentException] { // 64 not divisible by 7
      Similarity.ivfTopK(emb, emb.limit(1), nLists = 1, nProbe = 1, m = 7)
    }
    intercept[IllegalArgumentException] { // sample smaller than ksub
      Similarity.ivfTopK(emb, emb.limit(1), nLists = 1, nProbe = 1, m = 8,
        ksub = 64)
    }
  }

  test("pq with persisted codebooks: relation is dense m*ksub*dsub, " +
    "search works without retraining and matches the trained path") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_index_").toString + "/idx"
    graft.operators.IvfIndex.build(emb, path, nLists = 1, m = 16, ksub = 8)
    assert(spark.read.parquet(s"$path/codebooks").count() === 16L * 8L * 4L)
    val qs = emb.filter($"vec_id" === 0)
    val got = graft.operators.IvfIndex.search(spark, path, qs, k = 5,
      nProbe = 1)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
    // identical training seed -> identical results to the inline path
    val inline = Similarity.ivfTopK(emb, qs, k = 5, nLists = 1, nProbe = 1,
      m = 16, ksub = 8)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)]
      .collect().toSet
    val persisted = got.select("query_id", "vec_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(persisted === inline)
    // a truncated codebook relation is not dense: the load fails loudly
    val cb = spark.read.parquet(s"$path/codebooks")
    cb.limit(16 * 8 * 4 - 1).coalesce(1).write.parquet(s"$path/cb_torn")
    deleteDir(new java.io.File(s"$path/codebooks"))
    assert(new java.io.File(s"$path/cb_torn")
      .renameTo(new java.io.File(s"$path/codebooks")))
    val e = intercept[IllegalArgumentException] {
      graft.operators.IvfIndex.search(spark, path, qs, k = 5, nProbe = 1)
    }
    assert(e.getMessage.contains("not a dense codebook relation"))
  }

  test("ivf+pq composed index: near-identical vector ranks first; " +
    "probe bounds validated") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0),
      k = 5, nLists = 4, nProbe = 2, m = 16, ksub = 8)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
    intercept[IllegalArgumentException] { // nProbe > nLists
      Similarity.ivfTopK(emb, emb.limit(1), nLists = 4, nProbe = 5, m = 8)
    }
    intercept[IllegalArgumentException] { // re-rank of exact scores
      Similarity.ivfTopK(emb, emb.limit(1), nLists = 4, nProbe = 2,
        rerank = 10)
    }
  }

  test("ivf with persisted centroids: KMeans-format relation, search " +
    "works without retraining, equals the inline-trained path, and " +
    "survives the saveCentroids/loadCentroids artifact round trip") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val near = unit(0); near(1) = 0.02f
    val emb = ((0L, unit(0)) +: (1L, near) +:
      (2 until 40).map(i => (i.toLong, unit(i % dim)))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, nLists = 4)
    assert(cents.count() === 4L)
    assert(cents.select("cluster").distinct().count() === 4)
    // the persisted relation drives the same search (no training here:
    // the query batch reads centroids, not a sample)
    val got = frozenIvfTopK(cents, emb, emb.filter($"vec_id" === 0),
      k = 5, nProbe = 2)
    val first = got.filter($"rnk" === 1).select("vec_id").as[Long].head()
    assert(first === 1L)
    // two query batches against the same persisted index agree exactly
    val again = frozenIvfTopK(cents, emb, emb.filter($"vec_id" === 0),
      k = 5, nProbe = 2)
    assert(got.collect().toSet === again.collect().toSet)
    // training consolidation law: the persisted-quantizer route equals
    // the inline ivfTopK (same deterministic KMeans training path)
    val inline = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0),
      k = 5, nLists = 4, nProbe = 2)
    assert(inline.collect().toSet === got.collect().toSet)
    // load-path equality: the on-disk IVF index artifact (the KMeans
    // centroid-artifact seam, verbatim) drives an identical search
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_index_").toString
    graft.operators.KMeans.saveCentroids(cents, dir)
    val loaded = graft.operators.KMeans.loadCentroids(spark, dir)
    val fromDisk = frozenIvfTopK(loaded, emb, emb.filter($"vec_id" === 0),
      k = 5, nProbe = 2)
    assert(fromDisk.collect().toSet === got.collect().toSet)
  }

  test("byte-capped ANN training: a budget too small for one vector " +
    "fails with an actionable message; a budget capping the row count " +
    "still trains; the default leaves small corpora untouched") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val emb = (0 until 40).map(i => (i.toLong, unit(i % dim)))
      .toDF("vec_id", "embedding")
    // dim-64 COLLECTED doubles = 512 bytes/vector (the budget costs
    // rows at their collected width — the round-12 advisory fix): a
    // 100-byte budget holds none
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfCentroids(emb, nLists = 4, maxTrainBytes = 100L)
    }
    assert(e.getMessage.contains("maxTrainBytes") &&
      e.getMessage.contains("512"))
    // a budget of 8 vectors truncates the sample but still trains
    val cents = Similarity.ivfCentroids(emb, nLists = 4,
      maxTrainBytes = 8L * 512)
    assert(cents.select("cluster").distinct().count() === 4)
    // same guard on the PQ trainer
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, emb.limit(1), nLists = 1, nProbe = 1, m = 16,
        ksub = 8, maxTrainBytes = 100L)
    }
    assert(e2.getMessage.contains("maxTrainBytes"))
    // the 64 MB default admits every sf-test corpus unchanged: full-
    // sample results must be identical with the cap in place
    val a = Similarity.ivfCentroids(emb, nLists = 4).collect().toSet
    val b = Similarity.ivfCentroids(emb, nLists = 4,
      maxTrainBytes = 64L << 20).collect().toSet
    assert(a === b)
  }

  test("pq dim-mismatch fails loudly (uniform ANN contract): a corpus " +
    "vector of the wrong width raises instead of being dropped") {
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    val bad = (0 until 20).map(i => (i.toLong, unit(i % dim))) :+
      (99L, Array.fill(32)(0.5f))
    val emb = bad.toDF("vec_id", "embedding")
    val good = (0 until 20).map(i => (i.toLong, unit(i % dim)))
      .toDF("vec_id", "embedding")
    // trainSample = 8 keeps training on the (clean) leading rows — the
    // mismatch must surface from the ENCODE guard, not from training
    val ex = intercept[Exception] {
      Similarity.ivfTopK(emb, good.limit(1), k = 3, nLists = 1, nProbe = 1,
        m = 16, ksub = 8, trainSample = 8).collect()
    }
    assert(ex.getMessage.contains("dim mismatch"))
    val ex2 = intercept[Exception] {
      Similarity.ivfTopK(emb, good.limit(1), k = 3, nLists = 4,
        nProbe = 2, m = 16, ksub = 8, trainSample = 8).collect()
    }
    assert(ex2.getMessage.contains("dim mismatch"))
  }

  test("text analysis basics") {
    val df = Seq("The cat and the dog. A bird!").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount($"text").as("t"),
      TextAnalysis.punctChars($"text").as("p"),
      TextAnalysis.langId($"text").as("l")).head()
    assert(r.getAs[Int]("t") === 7)
    assert(r.getAs[Int]("p") === 2)
    assert(r.getAs[String]("l") === "en")
  }

  test("multimodal feature extraction over binary payloads") {
    import Multimodal._
    val media = Seq(
      MediaRecord(1L, "image/fake", Array.fill(1024)(7.toByte), 32, 32, 0L),
      MediaRecord(2L, "image/fake", Array.emptyByteArray, 0, 0, 0L)
    ).toDS()
    val feats = extractFeatures(media).collect().sortBy(_.mediaId)
    assert(feats(0).byteLen === 1024L)
    assert(feats(0).nFrames === 4)
    assert(feats(0).meanLuma === 7.0 / 255.0)
    assert(feats(0).featureVec.length === 16)
    assert(feats(1).byteLen === 0L && feats(1).nFrames === 1)
  }

  test("multimodal frame sampling and payload resize") {
    import Multimodal._
    val media = Seq(
      MediaRecord(1L, "video/fake", Array.tabulate(2048)(_.toByte), 32, 32, 0L)
    ).toDS()
    // 2048 bytes -> 8 frames; stride 3 samples frames 0, 3, 6
    val frames = sampleFrames(media, stride = 3).collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq === Seq(0, 3, 6))
    assert(frames.forall(_.features.length === 16))
    // frame 0 luma = mean of bytes 0..255 = 127.5/255
    assert(math.abs(frames(0).luma - 127.5 / 255.0) < 1e-9)

    val resized = resizePayload(media, targetBytes = 512).collect()(0)
    assert(resized.payload.length === 512)
    assert(resized.payload(1) === media.collect()(0).payload(4))
    // already-small payloads pass through untouched
    val small = resizePayload(media, targetBytes = 4096).collect()(0)
    assert(small.payload.length === 2048)
  }

  test("payload dedup groups byte-identical payloads (no text " +
    "normalization) and keeps the smallest id") {
    import Multimodal._
    val a = Array.tabulate(64)(_.toByte)
    val media = Seq(
      (1L, a), (5L, a.clone()),             // byte-identical dupes
      (2L, Array.tabulate(64)(i => (i + 1).toByte)), // distinct
      (3L, Array.emptyByteArray), (4L, Array.emptyByteArray)
    ).toDF("media_id", "payload")
    val got = dedupPayloads(media)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (3L, 2L)))
    // case-variant payloads are DISTINCT here (binary identity) even
    // though Dedup.exact's normalized text identity would merge them
    val texts = Seq((1L, "Hello"), (2L, "hello")).toDF("doc_id", "text")
    assert(dedupPayloads(mediaFromDocuments(texts)).count() === 2)
    assert(Dedup.exact(texts).count() === 1)
  }

  test("perceptual media near-dedup: byte-identical payloads pair at " +
    "cosine 1, unrelated payloads do not (no shared quantized chunk), " +
    "empty payloads never pair, and a light edit off the sampled " +
    "offsets is still caught (the pigeonhole guarantee)") {
    import Multimodal._
    val a = Array.tabulate(512)(i => ((i * 37 + 11) % 256).toByte)
    val media = Seq(
      MediaRecord(1L, "image/fake", a, 32, 32, 0L),
      MediaRecord(2L, "image/fake", a.clone(), 32, 32, 0L), // exact dup
      // light edit outside the 8 sampled offsets and with tiny luma
      // shift: a true near-dup the byte-identity pass misses
      MediaRecord(3L, "image/fake",
        { val c = a.clone(); c(100) = (c(100) + 1).toByte; c }, 32, 32, 0L),
      MediaRecord(4L, "image/fake",
        Array.tabulate(512)(i => ((i * 101 + 53) % 256).toByte), 32, 32, 0L),
      MediaRecord(5L, "image/fake", Array.emptyByteArray, 0, 0, 0L),
      MediaRecord(6L, "image/fake", Array.emptyByteArray, 0, 0, 0L)
    ).toDS()
    val pairs = nearDupPairs(media, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))          // exact dup found
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
    assert(!pairs.exists(p => p._1 >= 5L || p._2 >= 5L)) // empty never
    // exact dup pair carries cosine 1
    val c12 = nearDupPairs(media, threshold = 0.999)
      .filter(col("media_a") === 1L && col("media_b") === 2L)
      .select(col("cosine")).as[Double].head()
    assert(c12 === 1.0)
    // pigeonhole law at the contract boundary: perturb exactly 3 of
    // the 16 sampled offsets by one quantization step — the pair still
    // shares a chunk key and must surface as a candidate (cosine may
    // then pass or fail on its own merits; use threshold 0 to observe
    // candidacy alone)
    val offs = (0 until 16).map(j => (j * 31) % 512)
    val edited = a.clone()
    Seq(0, 2, 4).foreach(j => edited(offs(j)) =
      (edited(offs(j)) + 16).toByte)
    val media2 = Seq(MediaRecord(1L, "image/fake", a, 32, 32, 0L),
      MediaRecord(7L, "image/fake", edited, 32, 32, 0L)).toDS()
    val cand = nearDupPairs(media2, threshold = 1e-9)
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 7L)))
  }

  test("media near-dup pigeonhole law (fuzz): perturbing any <= 3 of " +
    "the 16 sampled offsets always leaves the pair a candidate") {
    import Multimodal._
    val rnd = new scala.util.Random(131)
    val cases = (0 until 12).map { t =>
      // n > 15*31 keeps the 16 sampled offsets distinct, so one byte
      // perturbation moves exactly one feature coordinate
      val n = 466 + rnd.nextInt(512)
      val base = Array.fill(n)(rnd.nextInt(256).toByte)
      val offs = (0 until 16).map(j => (j * 31) % n).distinct
      val nPerturb = 1 + rnd.nextInt(3)
      val picks = rnd.shuffle(offs.toList).take(nPerturb)
      val edited = base.clone()
      picks.foreach(o => edited(o) = (edited(o) + 1 + rnd.nextInt(200)).toByte)
      (2L * t, base, 2L * t + 1, edited)
    }
    val media = cases.flatMap { case (ia, a, ib, b) =>
      Seq(MediaRecord(ia, "image/fake", a, 32, 32, 0L),
        MediaRecord(ib, "image/fake", b, 32, 32, 0L))
    }.toDS()
    // threshold ~0 observes pure candidacy (cosine sign can vary);
    // every (2t, 2t+1) pair differs in <= 3 sampled coords, so each
    // MUST surface — unless its cosine is genuinely <= 0, which the
    // fixture avoids by perturbing at most 3 of 16 coords
    val cand = nearDupPairs(media, threshold = 1e-12)
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    cases.foreach { case (ia, _, ib, _) =>
      assert(cand.contains((ia, ib)), s"pair ($ia, $ib) missed")
    }
  }

  test("frame-level media overlap: frame-aligned shared footage pairs " +
    "with the right distinct-count, within-media repeats count once, " +
    "single-frame overlap stays below the floor, and a boilerplate " +
    "frame past the cap never pairs") {
    import Multimodal._
    def block(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(FrameBytes)(r.nextInt(256).toByte)
    }
    val f1 = block(1); val f2 = block(2); val boiler = block(9)
    def cat(bs: Array[Byte]*): Array[Byte] = bs.flatten.toArray
    val media = Seq(
      // A: f1, f2, f1 again (repeat counts once), own footage
      MediaRecord(1L, "video/fake", cat(f1, f2, f1, block(11)), 0, 0, 0L),
      // B: shifted by one frame but frame-ALIGNED: shares f1, f2
      MediaRecord(2L, "video/fake", cat(block(12), f1, f2), 0, 0, 0L),
      // C: shares only f1 -> below minSharedFrames=2
      MediaRecord(3L, "video/fake", cat(f1, block(13)), 0, 0, 0L),
      // D/E/F: the boilerplate frame in 5 media total (cap 4)
      MediaRecord(4L, "video/fake", cat(boiler, block(14)), 0, 0, 0L),
      MediaRecord(5L, "video/fake", cat(boiler, block(15)), 0, 0, 0L),
      MediaRecord(6L, "video/fake", cat(boiler, block(16)), 0, 0, 0L)
    ).toDS()
    // plant boiler into A and B too -> present in 5 media > cap 4
    val media2 = Seq(
      MediaRecord(1L, "video/fake", cat(f1, f2, f1, boiler), 0, 0, 0L),
      MediaRecord(2L, "video/fake", cat(block(12), f1, f2, boiler), 0, 0, 0L),
      MediaRecord(3L, "video/fake", cat(f1, block(13)), 0, 0, 0L),
      MediaRecord(4L, "video/fake", cat(boiler, block(14)), 0, 0, 0L),
      MediaRecord(5L, "video/fake", cat(boiler, block(15)), 0, 0, 0L),
      MediaRecord(6L, "video/fake", cat(boiler, block(16)), 0, 0, 0L)
    ).toDS()
    val got = frameOverlapPairs(media, minSharedFrames = 2,
        maxMediaPerFrame = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 2L))) // f1+f2, the f1 repeat once
    val capped = frameOverlapPairs(media2, minSharedFrames = 2,
        maxMediaPerFrame = 4)
      .as[(Long, Long, Long)].collect().toSet
    // boiler (5 media > cap) contributes nothing: (1,2) still 2, and
    // no boiler-only pair (4,5)/(4,6)/(5,6) appears
    assert(capped === Set((1L, 2L, 2L)))
  }

  test("media near-dup delta route: probing the persisted index equals " +
    "batch nearDupPairs over the union restricted to cross pairs, and " +
    "the delta side is never paired against itself") {
    import Multimodal._
    def payload(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(400)(r.nextInt(256).toByte)
    }
    // corpus: 20 distinct payloads + make 3 of them near-dup targets
    val corpus = (0 until 20).map(i =>
      MediaRecord(i.toLong, "image/fake", payload(i), 32, 32, 0L))
    // delta: copies of corpus payloads 1, 2, 3 (ids disjoint) plus two
    // unrelated and one delta-internal dup pair (must NOT emit)
    val delta = Seq(
      MediaRecord(101L, "image/fake", payload(1), 32, 32, 0L),
      MediaRecord(102L, "image/fake", payload(2), 32, 32, 0L),
      MediaRecord(103L, "image/fake", payload(3), 32, 32, 0L),
      MediaRecord(104L, "image/fake", payload(777), 32, 32, 0L),
      MediaRecord(105L, "image/fake", payload(777), 32, 32, 0L))
    val viaIndex = nearDupDelta(delta.toDS(),
        nearDupIndex(corpus.toDS()), threshold = 0.999)
      .as[(Long, Long, Double)].collect().toSet
    val batchCross = nearDupPairs((corpus ++ delta).toDS(),
        threshold = 0.999)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._2 >= 100L && p._1 < 100L)
      .map(p => (p._2, p._1, p._3)).toSet // delta id first
    assert(viaIndex === batchCross)
    assert(viaIndex.map(p => (p._1, p._2)) ===
      Set((101L, 1L), (102L, 2L), (103L, 3L)))
    // the delta-internal pair (104, 105) is batch work, not delta work
    assert(!viaIndex.exists(p => p._1 >= 104L && p._2 >= 104L))
  }

  test("frame-level delta route: probing the persisted frame index " +
    "equals batch frameOverlapPairs over the union restricted to " +
    "cross pairs (delta id first), and the boilerplate cap counts " +
    "UNION frequency — a frame pushed over the cap by the delta " +
    "itself never pairs") {
    import Multimodal._
    def block(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(FrameBytes)(r.nextInt(256).toByte)
    }
    val f1 = block(1); val f2 = block(2); val hot = block(9)
    def cat(bs: Array[Byte]*): Array[Byte] = bs.flatten.toArray
    // corpus: two media sharing f1+f2 with each other, three carrying
    // the hot frame (at cap 4 it still pairs — until the delta's own
    // copy pushes the union count to 5)
    val corpus = Seq(
      MediaRecord(1L, "video/fake", cat(f1, f2, block(11)), 0, 0, 0L),
      MediaRecord(2L, "video/fake", cat(block(12), f1, f2), 0, 0, 0L),
      MediaRecord(3L, "video/fake", cat(hot, block(13), f1), 0, 0, 0L),
      MediaRecord(4L, "video/fake", cat(hot, block(14)), 0, 0, 0L),
      MediaRecord(5L, "video/fake", cat(hot, block(15)), 0, 0, 0L))
    // delta: one media re-using f1+f2 (cross pairs with 1 and 2), one
    // carrying the hot frame (pushes union count to 4 == cap: pairs),
    // one delta-internal dup of 101 (must NOT emit — batch work)
    val delta = Seq(
      MediaRecord(101L, "video/fake", cat(f2, f1, block(21)), 0, 0, 0L),
      MediaRecord(102L, "video/fake", cat(hot, block(22)), 0, 0, 0L),
      MediaRecord(103L, "video/fake", cat(f1, f2, block(21)), 0, 0, 0L))
    def crossOf(cap: Int): Set[(Long, Long, Long)] =
      frameOverlapPairs((corpus ++ delta).toDS(), minSharedFrames = 1,
          maxMediaPerFrame = cap)
        .as[(Long, Long, Long)].collect()
        .filter(p => p._2 >= 100L && p._1 < 100L)
        .map(p => (p._2, p._1, p._3)).toSet // delta id first
    val idx = frameIndex(corpus.toDS())
    val viaIndex = frameOverlapDelta(delta.toDS(), idx,
        minSharedFrames = 1, maxMediaPerFrame = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === crossOf(4))
    // f1 is in corpus 1,2,3 and delta 101,103 -> union count 5 > 4:
    // only f2 pairs for 101/103; hot is in exactly 4 -> 102 pairs
    assert(viaIndex === Set((101L, 1L, 1L), (101L, 2L, 1L),
      (103L, 1L, 1L), (103L, 2L, 1L),
      (102L, 3L, 1L), (102L, 4L, 1L), (102L, 5L, 1L)))
    // delta-internal pair (101,103) is batch work, not delta work
    assert(!viaIndex.exists(p => p._1 >= 100L && p._2 >= 100L))
    // raising the cap to 5 lets f1 through on BOTH routes identically
    val viaIndex5 = frameOverlapDelta(delta.toDS(), idx,
        minSharedFrames = 1, maxMediaPerFrame = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaIndex5 === crossOf(5))
    assert(viaIndex5.contains((101L, 3L, 1L))) // f1 now pairs via 3
  }

  test("crossModalComponents BRIDGES modalities: a text-only edge and " +
    "a media-only edge chain three docs into one cluster neither " +
    "detector finds alone") {
    import Multimodal._
    // B and C: same length, equal at every sampled feature offset
    // ((j*31) % n, 0-based), different in one char of EACH paragraph
    // (so they share NO normalized paragraph -> no text edge) -> the
    // media cosine is exactly 1. A shares B's first paragraph but has
    // a different length (different sampled offsets -> no media pair
    // at 0.999).
    val n = 101
    val sampled = (0 until 16).map(j => (j * 31) % n).toSet
    val base = Array.tabulate(n)(i => ('a' + (i % 26)).toChar)
    " the ".zipWithIndex.foreach { case (c, i) => base(40 + i) = c }
    val bTxt = new String(base)
    val cArr = base.clone()
    val flip1 = (0 until 40).find(i => !sampled.contains(i)).get
    val flip2 = (45 until n).find(i => !sampled.contains(i)).get
    cArr(flip1) = 'Z'; cArr(flip2) = 'Z'
    val cTxt = new String(cArr)
    val aTxt = bTxt.substring(0, 40) + " the 0123456789"
    val docs = Seq((1L, aTxt), (2L, bTxt), (3L, cTxt))
      .toDF("doc_id", "text")
    // preconditions the bridge claim rests on
    def paras(t: String) =
      t.split(java.util.regex.Pattern.quote(" the "))
        .map(_.trim.toLowerCase).filter(_.length >= 20).toSet
    assert(paras(aTxt).intersect(paras(bTxt)).nonEmpty) // text A-B
    assert(paras(bTxt).intersect(paras(cTxt)).isEmpty)  // no text B-C
    assert(paras(aTxt).intersect(paras(cTxt)).isEmpty)  // no text A-C
    val media = mediaFromDocuments(docs)
      .select(col("media_id").as("mediaId"),
        col("media_type").as("mediaType"), col("payload"),
        lit(0).as("width"), lit(0).as("height"),
        lit(0L).as("durationMs")).as[MediaRecord]
    val mp = nearDupPairs(media, threshold = 0.999)
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    assert(mp === Set((2L, 3L))) // media B-C only
    // the cluster: A -text- B -media- C, one component labeled min id
    val cc = crossModalComponents(docs)
      .as[(Long, Long)].collect().toSet
    assert(cc === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("media features flow into the ANN path: extractFeatures output " +
    "is a valid embeddings relation for cosineTopK") {
    import Multimodal._
    val rnd = new scala.util.Random(71)
    val media = (0 until 30).map { i =>
      MediaRecord(i.toLong, "image/fake",
        Array.fill(256 + rnd.nextInt(512))(rnd.nextInt(256).toByte),
        32, 32, 0L)
    }.toDS()
    val emb = extractFeatures(media)
      .select(col("mediaId").as("vec_id"), col("featureVec").as("embedding"))
    val topk = Similarity.cosineTopK(emb,
      emb.filter(col("vec_id") < 2), k = 5)
    val rows = topk.collect()
    assert(rows.length === 10) // 2 queries x 5 neighbors
    assert(rows.forall(_.getAs[Long]("vec_id") >= 0))
  }

  test("semanticDecontaminate equals brute-force max cosine; zero-norm " +
    "and empty-eval edges; threshold guard") {
    val rnd = new scala.util.Random(83)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() - 0.5f)
    val corpusRows = (0 until 25).map(i => (i.toLong, vec())) :+
      (25L, Array.fill(8)(0.0f)) // zero norm -> null max_cos
    val evalRows = (100 until 105).map(i => (i.toLong, vec()))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val evalSet = evalRows.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb > 0) Some(d / (na * nb)) else None
    }
    val t = 0.3
    val want = corpusRows.map { case (id, v) =>
      val mc = evalRows.flatMap(e => cos(v, e._2))
        .map(c => BigDecimal(c).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
        .maxOption
      (id, mc, mc.exists(_ >= t))
    }.toSet
    val got = Similarity.semanticDecontaminate(corpus, evalSet, t)
      .as[(Long, Option[Double], Boolean)].collect().toSet
    assert(got === want)
    assert(got.exists(_._3) && got.exists(r => !r._3 && r._2.nonEmpty),
      "fixture must produce both classes")
    // empty eval set: nothing contaminated, max_cos all null
    val none = Similarity.semanticDecontaminate(corpus,
      evalSet.filter(col("vec_id") < 0), t)
      .as[(Long, Option[Double], Boolean)].collect()
    assert(none.length === corpusRows.size)
    assert(none.forall(r => r._2.isEmpty && !r._3))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus, evalSet, 1.5)
    }
    assert(e.getMessage.contains("threshold"))
  }

  test("salted join equals the plain join: hot key, duplicate rows, " +
    "null keys dropped on both sides") {
    import graft.operators.Skew
    val rnd = new scala.util.Random(7)
    // hot key 1 carries half the probe side; a duplicated row checks the
    // whole-row salt does not dedup; null keys on both sides match nothing
    val left = ((1 to 200).map(i =>
        (java.lang.Long.valueOf(if (i <= 100) 1L else rnd.nextLong(50)), s"l$i"))
      :+ (java.lang.Long.valueOf(5L), "dup")
      :+ (java.lang.Long.valueOf(5L), "dup")
      :+ (null.asInstanceOf[java.lang.Long], "nl"))
      .toDF("lk", "lv")
    val right = ((0L to 60L).map(k => (java.lang.Long.valueOf(k), s"r$k"))
      :+ (null.asInstanceOf[java.lang.Long], "nr"))
      .toDF("rk", "rv")
    val plain = left.join(right, col("lk") === col("rk"))
      .select("lk", "lv", "rv")
      .as[(Long, String, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(left, right, col("lk"), col("rk"),
        saltFactor = 4)
      .select("lk", "lv", "rv")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(salted === plain)
    // the hot key's probe rows actually spread: >1 distinct salt value
    val salts = left.filter(col("lk") === 1L)
      .withColumn("_salt", pmod(xxhash64(left.columns.map(col): _*), lit(4)))
      .select("_salt").distinct().count()
    assert(salts > 1, s"hot key landed on $salts salt(s)")
  }

  test("profile: one pass over mixed types, nulls counted, " +
    "type-inapplicable stats null, exact and approx routes agree here") {
    import graft.operators.Profile
    val df = Seq(
      (Some(1L), Some("aa")), (Some(2L), Some("bbbb")),
      (Some(2L), None), (None, Some("aa"))
    ).toDF("id", "s")
    def rows(exact: Boolean) = Profile.profile(df, exactDistinct = exact)
      .collect().map(r => r.getString(0) -> r).toMap
    for (exact <- Seq(true, false)) {
      val m = rows(exact)
      val id = m("id")
      assert(id.getLong(1) === 4L && id.getLong(2) === 1L) // rows, nulls
      assert(id.getLong(3) === 2L) // distinct (HLL exact at this size)
      assert(id.getDouble(4) === 1.0 && id.getDouble(5) === 2.0)
      assert(id.isNullAt(6) && id.isNullAt(7) && id.isNullAt(8))
      val s = m("s")
      assert(s.getLong(2) === 1L && s.getLong(3) === 2L)
      assert(s.isNullAt(4) && s.isNullAt(5))
      assert(s.getLong(6) === 2L && s.getLong(7) === 4L)
      assert(math.abs(s.getDouble(8) - 8.0 / 3.0) < 1e-6)
    }
    intercept[IllegalArgumentException] {
      Profile.profile(df, cols = Seq("nope"))
    }
  }

  test("zorderBy clusters both keys: aligned-square points stay " +
    "contiguous and partitions narrow both dimensions") {
    import graft.operators.Layout
    import graft.functions.ZOrderOps
    // every point of the 4-aligned square [4,8)² sorts strictly between
    // the squares below and above it on the curve
    val inSquare = for (a <- 4L until 8L; b <- 4L until 8L)
      yield ZOrderOps.interleave(a, b)
    val below = ZOrderOps.interleave(3L, 3L)
    val above = ZOrderOps.interleave(8L, 8L)
    assert(inSquare.forall(z => z > below && z < above))
    assert(inSquare.max - inSquare.min === 15L) // 16 contiguous z values

    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b))
      .toDF("a", "b")
    val parts = Layout.zorderBy(grid, col("a"), col("b"), numFiles = 16)
      .select(spark_partition_id().as("p"), col("a"), col("b"))
      .groupBy("p").agg(
        (max("a") - min("a")).as("wa"), (max("b") - min("b")).as("wb"))
      .as[(Int, Long, Long)].collect()
    // a plain sort by `a` gives every partition the full 0..63 range of
    // `b` (width 63); z-ordering must beat that on average in BOTH dims
    assert(parts.map(_._2).sum / parts.length < 40, parts.toSeq)
    assert(parts.map(_._3).sum / parts.length < 40, parts.toSeq)
  }

  test("semanticDedup: exact duplicates drop to the min id, soundness " +
    "holds (every dropped vector has a real smaller-id near neighbor), " +
    "well-separated clusters reach full recall") {
    val rnd = new scala.util.Random(23)
    // two tight, far-apart clusters + an isolated outlier; within a
    // cluster every vector is a near-duplicate of the cluster seed
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val c1 = Array.fill(8)(1.0f) ++ Array.fill(8)(0.0f)
    val c2 = Array.fill(8)(0.0f) ++ Array.fill(8)(1.0f)
    val vecs = (0L until 10L).map(i => (i, jitter(c1).toSeq)) ++
      (10L until 20L).map(i => (i, jitter(c2).toSeq)) :+
      (20L, (Array.fill(8)(1.0f) ++ Array.fill(8)(-1.0f)).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val sd = Similarity.semanticDedup(emb, threshold = 0.95, nLists = 2)
      .as[(Long, Int, Boolean)].collect()
    val kept = sd.filter(_._3).map(_._1).toSet
    // each cluster keeps exactly its min id; the outlier survives
    assert(kept === Set(0L, 10L, 20L), kept)
    // soundness re-verified from raw data: every dropped vector has a
    // genuine smaller-id neighbor above the threshold
    val byId = vecs.toMap
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    for ((id, _, k) <- sd if !k)
      assert(byId.keys.exists(u => u < id && cos(byId(u), byId(id)) >= 0.95),
        s"dropped $id without a real neighbor")
    // gate on the same data: full slice, perfect recall expected
    val gate = Similarity.semanticDedupGate(emb, threshold = 0.95,
      sliceMax = 100L, floor = 0.99, nLists = 2).collect()(0)
    assert(gate.getLong(0) === 18L && gate.getBoolean(1), gate)
  }

  test("saltedJoin rejects colliding columns and bad factors") {
    import graft.operators.Skew
    val df = Seq((1L, "a")).toDF("k", "_salt")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(df, df, col("k"), col("k"))
    }
    val ok = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(ok, ok, col("k"), col("k"), saltFactor = 0)
    }
  }
}
