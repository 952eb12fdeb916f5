package graft.examples

import graft.GraftSession

/** The SQL:2016 MATCH_RECOGNIZE surface end-to-end on the sf0.001
  * events table — one statement per round-13 dialect capability, each
  * printed with its row count so a human (or the round driver) can eye
  * the output shape:
  *
  *  1. a table FACTOR with an outer GROUP BY (the match relation joins
  *     and aggregates like any table),
  *  2. pattern ANCHORS `^`/`$` (partition-boundary matches),
  *  3. MEASURES NAVIGATION — FIRST/LAST logical offsets, PREV/NEXT off
  *     a bound row, COUNT(*),
  *  4. cross-variable DEFINE with a logical offset (the purchase gates
  *     on the SECOND click),
  *  5. a recursive PATTERN with a reluctant quantifier + MATCH_NUMBER,
  *  6. exclusion over a SUB-PATTERN plus an own-variable logical
  *     offset (ascending-value purchase chains),
  *  7. FIRST/bare(=LAST) over a SUBSET union in DEFINE,
  *  8. MODE STRICT (ISO-contiguous matching) with an expression
  *     aggregate and CLASSIFIER() as a measure function,
  *  9. (round 15) AFTER MATCH SKIP TO LAST over a SUBSET union plus an
  *     expression-aggregate DEFINE predicate in one statement,
  * 10. (round 16) the closed DEFINE navigation surface in one
  *     statement — a SUBSET-union anchor (PREV(s.value)), a nested
  *     selection over an expression argument (PREV(FIRST(a.value*2))),
  *     and a SUBSET expression aggregate (SUM(s.value*1)).
  *
  * The session installs [[graft.plans.GraftExtensions]], so every
  * statement below runs through plain `spark.sql(...)` — exactly what a
  * library user would type.
  *
  * Run: `sbt "runMain graft.examples.SqlPatternShowcase"` — prints
  * SHOWCASE-DONE on success.
  */
object SqlPatternShowcase {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession("ERROR",
      Map("spark.sql.extensions" -> "graft.plans.GraftExtensions"))

    graft.Tables.eventsTsUs(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .createOrReplaceTempView("events")

    def show(title: String, sql: String): Unit = {
      // one job per statement: collect once, print count + a sample
      val rows = spark.sql(sql).collect()
      println(s"== $title: ${rows.length} rows ==")
      rows.take(3).foreach(r => println(s"   $r"))
    }

    show("factor + GROUP BY",
      """SELECT user_id, count(*) AS n_pairs
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id
        |  PATTERN (a b) WITHIN 7200000000
        |  DEFINE a AS event_type = 'click', b AS event_type = 'purchase'
        |) GROUP BY user_id""".stripMargin)

    show("anchored ^ start (users whose FIRST event is a signup)",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS first_event
        |  PATTERN (^ a)
        |  DEFINE a AS event_type = 'signup'
        |)""".stripMargin)

    show("measures navigation + COUNT(*)",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES FIRST(a.event_id) AS a0, FIRST(a.event_id, 1) AS a1,
        |           PREV(b.event_id) AS before_b, COUNT(*) AS n_rows
        |  PATTERN (a{2,2} b) WITHIN 7200000000
        |  DEFINE a AS event_type = 'click', b AS event_type = 'purchase'
        |)""".stripMargin)

    show("cross-variable DEFINE offset",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES FIRST(a.event_id, 1) AS second_click,
        |           b.event_id AS b_id
        |  PATTERN (a{2,2} b) WITHIN 7200000000
        |  DEFINE a AS event_type = 'click',
        |         b AS event_type = 'purchase'
        |           AND ts_us - FIRST(a.ts_us, 1) <= 600000000
        |)""".stripMargin)

    show("recursive pattern + reluctant + MATCH_NUMBER",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES MATCH_NUMBER() AS mn, FIRST(a.event_id) AS a_id,
        |           c.event_id AS c_id
        |  PATTERN ((a b?)+? c) WITHIN 7200000000
        |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
        |         c AS event_type = 'purchase'
        |)""".stripMargin)

    show("exclusion sub-pattern + own-variable offset",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, FIRST(b.event_id) AS b1,
        |           LAST(b.event_id) AS b2
        |  ALL ROWS PER MATCH
        |  PATTERN (a {- b{2,2} -}) WITHIN 86400000000
        |  DEFINE a AS event_type = 'click',
        |         b AS event_type = 'purchase'
        |           AND (LAST(b.value, 1) IS NULL
        |             OR value > LAST(b.value, 1))
        |)""".stripMargin)

    show("SUBSET union extremes in DEFINE",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
        |           c.event_id AS c_id
        |  PATTERN (a b c)
        |  SUBSET s = (a, b)
        |  WITHIN 86400000000
        |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
        |         c AS event_type = 'purchase'
        |           AND value > s.value
        |           AND value + FIRST(s.value) > 2 * s.value
        |)""".stripMargin)

    show("MODE STRICT (ISO contiguous) + expression aggregate + " +
        "CLASSIFIER()",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
        |           SUM(b.value * 2) AS twice, CLASSIFIER() AS cls
        |  PATTERN (a b)
        |  MODE STRICT
        |  DEFINE a AS event_type = 'click', b AS event_type = 'purchase'
        |)""".stripMargin)

    show("SKIP TO a SUBSET union + expression aggregate in DEFINE",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
        |           c.event_id AS c_id
        |  AFTER MATCH SKIP TO LAST w
        |  PATTERN (a b c)
        |  SUBSET w = (a, b)
        |  WITHIN 86400000000
        |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
        |         c AS event_type = 'purchase'
        |           AND value > MIN(w.value)
        |           AND value >= AVG(a.value * 1)
        |)""".stripMargin)

    show("(round 16) the closed navigation surface in one statement: " +
      "SUBSET-union anchor, nested selection, expression arguments, " +
      "and a SUBSET expression aggregate",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
        |           c.event_id AS c_id
        |  PATTERN (a b c)
        |  SUBSET s = (a, b)
        |  DEFINE a AS event_type = 'click', b AS event_type = 'view',
        |         c AS event_type = 'purchase'
        |           AND value > PREV(s.value)
        |           AND coalesce(PREV(FIRST(a.value * 2)), 0) < 1000
        |           AND SUM(s.value * 1) > 0
        |)""".stripMargin)

    show("(round 19) mixed-variable navigation — each reference " +
      "anchors at its own variable's binding (the cross-attribute " +
      "select, SQL:2016-style)",
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts_us, event_id
        |  MEASURES a.event_id AS a_id, b.event_id AS b_id,
        |           LAST(b.value - a.value) AS delta,
        |           PREV(a.value + b.value) AS psum
        |  PATTERN (a b)
        |  MODE STRICT
        |  DEFINE a AS event_type = 'click',
        |         b AS event_type = 'view'
        |           AND LAST(b.value - a.value) > 0
        |)""".stripMargin)

    println("SHOWCASE-DONE")
    spark.stop()
  }
}
