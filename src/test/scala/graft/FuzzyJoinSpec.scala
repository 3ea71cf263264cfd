package graft

import graft.ops.FuzzyJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def catalog = Seq(
    (1L, "red widget"),
    (2L, "red widgett"),  // 1 edit from widget
    (3L, "red wodget"),   // 1 edit
    (4L, "blue widget"),  // same noun, different block
    (5L, "red bolt"),     // 4+ edits
    (6L, null.asInstanceOf[String])
  ).toDF("id", "name")

  /** Self-match of an (id, name) frame through the two-frame `pairs`:
    * each unordered pair once, as (id_l < id_r). */
  private def selfPairs(df: DataFrame, maxDist: Int,
                        blockKey: Column => Column = FuzzyJoin.firstTokenBlock): DataFrame =
    FuzzyJoin.pairs(df, df, "id", "id", "name", "name", maxDist, blockKey)
      .where($"id" < $"id_r")
      .select($"id".as("id_l"), $"id_r", $"name".as("text_l"), $"name_r".as("text_r"), $"dist")

  test("selfPairs finds within-block pairs inside the edit budget") {
    val got = selfPairs(catalog, maxDist = 2)
      .select($"id_l", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    // (1,2)=1, (1,3)=1, (2,3)=2; 4 is in block "blue"; 5 too far; 6 null
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)))
  }

  test("blocking is the documented recall boundary: cross-block pair missed") {
    // "blue widget" vs "red widget" is 4 edits anyway, but even an
    // identical-suffix pair across blocks must not appear
    val got = selfPairs(catalog, maxDist = 10)
      .where($"id_l" === 1L && $"id_r" === 4L)
    assert(got.count() == 0)
  }

  test("pairs links a dirty side back to the catalog") {
    val dirty = Seq((100L, "rd widgt")).toDF("did", "dname") // 'e'-dropped
    val got = FuzzyJoin.pairs(dirty, catalog, "did", "id", "dname", "name",
        maxDist = 2, blockKey = t => lower(t.substr(lit(1), lit(1))))
      .select($"id", $"dist").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2)) // widget@2; widgett/wodget are 3 edits
  }

  test("length pre-filter never changes the result, only prunes") {
    // a pair differing by >maxDist in length cannot pass levenshtein
    val df = Seq((1L, "ab"), (2L, "abcdefgh")).toDF("id", "name")
    assert(selfPairs(df, maxDist = 3).count() == 0)
  }

  test("pairs tolerates identical column names on both sides (two catalog versions)") {
    val v2 = Seq((10L, "red widgett")).toDF("id", "name")
    val got = FuzzyJoin.pairs(catalog, v2, "id", "id", "name", "name", maxDist = 2)
    assert(got.columns.toSeq == Seq("id", "id_r", "name", "name_r", "dist"))
    val hits = got.select($"id", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(hits == Set((1L, 10L, 1), (2L, 10L, 0), (3L, 10L, 2)))
  }

  test("skeletonBlock keys vowel-dropped corruptions into their source's block") {
    // leading-vowel loss ("emerald" -> "mrald") changes the first
    // char AND the first token, so both classic keys miss the pair;
    // the consonant skeleton is invariant under any vowel/space loss
    val df = Seq((1L, "emerald bolt"), (2L, "mrald bolt"), (3L, "cobalt bolt"))
      .toDF("id", "name")
    val firstChar = (t: org.apache.spark.sql.Column) => lower(t.substr(lit(1), lit(1)))
    val viaChar = selfPairs(df, maxDist = 3, blockKey = firstChar)
      .select($"id_l", $"id_r").as[(Long, Long)].collect().toSet
    assert(!viaChar.contains((1L, 2L)))
    val viaSkel = selfPairs(df, maxDist = 3, blockKey = FuzzyJoin.skeletonBlock(_))
      .select($"id_l", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(viaSkel == Set((1L, 2L, 2))) // drop 'e','e'; cobalt's skeleton differs
  }

  test("rejects negative maxDist") {
    intercept[IllegalArgumentException] {
      selfPairs(catalog, maxDist = -1)
    }
  }

  test("length banding equals the unbanded baseline across band boundaries") {
    // lengths 2..12 with a shared block: every adjacent-band straddle
    // for w = maxDist+1 = 3 occurs (2|3, 5|6, 8|9, 11|12), so a
    // band-local (non-neighbor-probing) join would lose pairs here
    val rows = Seq(
      (1L, "aa"), (2L, "aab"), (3L, "aabb"), (4L, "aabbc"),
      (5L, "aabbcc"), (6L, "aabbccd"), (7L, "aabbccdd"),
      (8L, "aabbccdde"), (9L, "aabbccddee"), (10L, "aabbccddeef"),
      (11L, "aabbccddeeff")
    ).toDF("id", "name")
    val firstChar = (t: org.apache.spark.sql.Column) => lower(t.substr(lit(1), lit(1)))
    val banded = selfPairs(rows, maxDist = 2, blockKey = firstChar)
      .select($"id_l", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    // unbanded baseline: block join + length filter + levenshtein
    val l = rows.select($"id".as("il"), $"name".as("nl"))
      .withColumn("b", lower($"nl".substr(lit(1), lit(1))))
    val r = rows.select($"id".as("ir"), $"name".as("nr"))
      .withColumn("b", lower($"nr".substr(lit(1), lit(1))))
    val want = l.join(r, "b")
      .where($"il" < $"ir" && abs(length($"nl") - length($"nr")) <= 2)
      .withColumn("d", levenshtein($"nl", $"nr"))
      .where($"d" <= 2)
      .select($"il", $"ir", $"d".cast("int")).as[(Long, Long, Int)].collect().toSet
    assert(banded == want && want.nonEmpty)
    // each pair exactly once (the explode must not duplicate)
    val ids = selfPairs(rows, maxDist = 2, blockKey = firstChar)
      .select($"id_l", $"id_r").as[(Long, Long)].collect()
    assert(ids.length == ids.distinct.length)
  }

  test("bag prefilter never drops anagram-ish pairs (bound 0 < true distance)") {
    // "abcde" vs "edcba": identical char bags (bound 0) but edit
    // distance 4 — the prefilter must pass them through to
    // levenshtein, which decides. At maxDist 4 the pair is real; at
    // maxDist 2 levenshtein (not the bag bound) rejects it.
    val df = Seq((1L, "abcde"), (2L, "edcba")).toDF("id", "name")
    val oneBlock = (_: org.apache.spark.sql.Column) => lit("x")
    assert(selfPairs(df, maxDist = 4, blockKey = oneBlock).count() == 1)
    assert(selfPairs(df, maxDist = 2, blockKey = oneBlock).count() == 0)
  }

  test("maxDist = 0 degenerates to exact within-block equality") {
    val df = Seq((1L, "same name"), (2L, "same name"), (3L, "same namez"))
      .toDF("id", "name")
    val got = selfPairs(df, maxDist = 0)
      .select($"id_l", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0)))
  }
}
