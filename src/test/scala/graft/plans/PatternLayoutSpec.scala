package graft.plans

import org.apache.spark.sql.GraftSqlBridge
import graft.cep.{PatternDef, Step}

/** The pattern-shape tree and its one lowering: [[MatchElemSpec.compile]]
  * draws steps in predicate order, the front ends build the specs the
  * executors compile, and the compiled layouts keep the fingerprints
  * that existing streaming checkpoints store.
  */
class PatternLayoutSpec extends graft.SparkSpec {
  private val Inf = Int.MaxValue

  /** One shape of each element kind, with the [[PatternDef.layoutFp]]
    * that checkpoints written by earlier builds store. A change here
    * means those checkpoints no longer restore. */
  private val pinned: Seq[(String, Seq[MatchElemSpec], Long)] = Seq(
    ("quantified strict step",
      Seq(StepSpec("a"), StepSpec("b", 2, 4, strict = true)),
      -2741058007072277536L),
    ("notfor", Seq(StepSpec("a"), AbsenceSpec("n", 50L)),
      3906996798055473684L),
    ("both/and", Seq(NestedGroupSpec(Seq(NgPermSpec(Seq("l", "r"))), 1, 1)),
      2815224576319741772L),
    ("either/or", Seq(NestedGroupSpec(Seq(NgAltSpec("l", "r")), 1, 1)),
      2994231638550254221L),
    ("PERMUTE(a,b,c)",
      Seq(NestedGroupSpec(Seq(NgPermSpec(Seq("a", "b", "c"))), 1, 1)),
      443846538222174864L),
    ("(a b){2,3}",
      Seq(NestedGroupSpec(Seq(NgVarSpec("a"), NgVarSpec("b")), 2, 3)),
      5299171710205029109L),
    ("(a|b)+", Seq(NestedGroupSpec(Seq(NgAltSpec("a", "b")), 1, Inf)),
      -2085844904283830675L),
    ("(a (b c)+ | PERMUTE((d e), f))", Seq(RxSpec(RxAltSpec(Seq(
      RxSeqSpec(Seq(RxVarSpec("a"),
        RxRepSpec(RxSeqSpec(Seq(RxVarSpec("b"), RxVarSpec("c"))), 1, Inf))),
      RxPermuteSpec(Seq(RxSeqSpec(Seq(RxVarSpec("d"), RxVarSpec("e"))),
        RxVarSpec("f"))))))),
      79463521895952124L))

  private def compiled(specs: Seq[MatchElemSpec]): PatternDef[Int] =
    PatternDef[Int](MatchElemSpec.compile[Int](specs)(
      (n, mn, mx, st) => Step[Int](n, _ => true, mn, mx, st)))

  test("compile draws one step per variable occurrence, in predicate order") {
    pinned.foreach { case (shape, specs, _) =>
      val drawn = Seq.newBuilder[String]
      MatchElemSpec.compile[Int](specs) { (n, mn, mx, st) =>
        drawn += n
        Step[Int](n, _ => true, mn, mx, st)
      }
      assert(drawn.result() == specs.flatMap(_.occurrences), shape)
      assert(compiled(specs).steps.flatMap(_.names) ==
        specs.flatMap(_.names), shape)
    }
  }

  test("layout pin: each compiled shape keeps its recorded layoutFp") {
    val moved = pinned.collect {
      case (shape, specs, fp) if compiled(specs).layoutFp != fp =>
        s"$shape: ${compiled(specs).layoutFp}L, pinned ${fp}L"
    }
    assert(moved.isEmpty, moved.mkString("\n"))
  }

  test("the SQL parser and pattern: plans build the pinned specs") {
    val s = spark
    import s.implicits._
    Seq(("k", 1L, "A")).toDF("k", "t", "typ")
      .createOrReplaceTempView("layout_pin_ev")
    def specsOf(df: org.apache.spark.sql.DataFrame): Seq[MatchElemSpec] =
      df.queryExecution.analyzed.collectFirst {
        case n: MatchRecognizeNode => n.elems
      }.getOrElse(fail("no MATCH_RECOGNIZE node in the plan"))
    def sql(pattern: String, vars: Seq[String]): Seq[MatchElemSpec] =
      specsOf(GraftSqlBridge.ofRows(spark,
        new GraftSqlParser(spark.sessionState.sqlParser, spark).parsePlan(
          s"""SELECT * FROM layout_pin_ev MATCH_RECOGNIZE (
             |  PARTITION BY k ORDER BY t
             |  MEASURES FIRST(${vars.head}.t) AS ft
             |  PATTERN $pattern
             |  DEFINE ${vars.map(v => s"$v AS typ = 'A'").mkString(", ")}
             |)""".stripMargin)))
    def plan(clauses: String): Seq[MatchElemSpec] =
      specsOf(graft.control.PlanCompiler.compile(spark,
        s"pattern:\nfrom layout_pin_ev\nkey k\nts t\ntie t\n$clauses"))
    val built = Map(
      "quantified strict step" -> plan("step a where typ = 'A'\n" +
        "step b strict min 2 max 4 where typ = 'B'"),
      "notfor" -> plan("step a where typ = 'A'\nnotfor n 50 where typ = 'B'"),
      "both/and" -> plan("both l where typ = 'A'\nand r where typ = 'B'"),
      "either/or" -> plan("either l where typ = 'A'\nor r where typ = 'B'"),
      "PERMUTE(a,b,c)" -> sql("(PERMUTE(a, b, c))", Seq("a", "b", "c")),
      "(a b){2,3}" -> sql("((a b){2,3})", Seq("a", "b")),
      "(a|b)+" -> sql("((a|b)+)", Seq("a", "b")),
      "(a (b c)+ | PERMUTE((d e), f))" -> sql(
        "(a (b c)+ | PERMUTE((d e), f))", Seq("a", "b", "c", "d", "e", "f")))
    pinned.foreach { case (shape, specs, _) =>
      assert(built(shape) == specs, shape)
    }
  }
}
