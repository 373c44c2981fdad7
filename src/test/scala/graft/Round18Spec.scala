package graft

import graft.operators.{Dedup, EntityResolution}

/** Operator laws for the restructured resolveDeltaMulti /
  * nearDupDelta equivalences (their outputs are also oracle-pinned;
  * these are the operator-level laws). */
class Round18Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // resolveDeltaMulti restructure equivalence
  // ------------------------------------------------------------------

  test("resolveDeltaMulti after the r18 restructure: adoption minimum " +
    "still propagates to every component member, components with no " +
    "adopted member keep their component-min id, non-edge records keep " +
    "their own id") {
    // corpus: two stored entities under nation blocking
    val corpus = Seq(
      (100L, "smith", 1), (101L, "smith", 1), // entity 100
      (200L, "jones", 2)                      // entity 200
    ).toDF("rid", "name", "blk")
    val stored = EntityResolution.resolve(corpus, "rid", "name", "blk", 1)
    val delta = Seq(
      (300L, "smith", 1),  // adopts 100 directly
      (301L, "smyth", 1),  // within-delta edge to 300 (dist 1) → adopts 100
      (400L, "zzzzz", 2),  // fresh pair: new entity labeled by min id
      (401L, "zzzzz", 2),
      (500L, "alone", 3)   // isolated, matches nothing: keeps own id
    ).toDF("rid", "name", "blk")
    val got = EntityResolution.resolveDelta(stored, delta, "rid", "name",
      "blk", 1).select("rid", "entity_id").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(300L -> 100L, 301L -> 100L,
      400L -> 400L, 401L -> 400L, 500L -> 500L))
  }

  // ------------------------------------------------------------------
  // nearDupDelta restructure equivalence
  // ------------------------------------------------------------------

  test("nearDupDelta after the r18 Par restructure: cross hits drop the " +
    "whole delta component, fresh components keep their min id, and a " +
    "provided carved index gives the same survivors as the built one") {
    val mk = (id: Long, t: String) => (id, t)
    val corpusDocs = Seq(
      mk(2L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val deltaDocs = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"), // cross dup
      mk(3L, "nine ten eleven twelve thirteen fourteen fifteen"), // fresh
      mk(5L, "nine ten eleven twelve thirteen fourteen fifteen")  // twin of 3
    ).toDF("doc_id", "text")
    val corpusIdx = Dedup.buildShingleIndex(corpusDocs, "doc_id", "text", 3)
    val (survBuilt, deltaIdx) = Dedup.nearDupDelta(
      Some(corpusIdx), deltaDocs, "doc_id", "text")
    assert(survBuilt.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(3L), "1 drops (cross), 3 survives (component min), 5 drops")
    // carved-index form: same survivors
    val (survCarved, _) = Dedup.nearDupDelta(
      Some(corpusIdx), deltaDocs, "doc_id", "text",
      deltaShinglesDf = Some(deltaIdx))
    assert(survCarved.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(3L))
  }
}
