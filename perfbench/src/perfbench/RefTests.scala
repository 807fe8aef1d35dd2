package perfbench

/** Tests of the independent reference. They run at the start of every
 *  benchmark run (a failure marks the run incorrect) and alone through
 *  `python3 perfbench/run.py --self-test`. */
object RefTests {

  /** Names of the failed checks; empty when all pass. */
  def run(): Seq[String] = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(name: String)(ok: Boolean): Unit = if (!ok) failures += name
    def near(a: Double, b: Double, d: Double) = math.abs(a - b) <= d

    // 3-doc corpus, tokens a=0 b=1 c=2:  d0 = a b a (dl 3), d1 = b c (dl 2),
    // d2 = a (dl 1); N = 3, avgdl = 6/3 = 2.
    // idf(a) = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6) = 0.470003629245736
    // idf(c) = ln(1 + (3-1+0.5)/(1+0.5)) = ln(8/3) = 0.980829253011726
    // "a":   d0 tf 2, norm 1.2*(0.25+0.75*3/2) = 1.65 -> ln(1.6)*2/3.65
    //        d2 tf 1, norm 1.2*(0.25+0.75*1/2) = 0.75 -> ln(1.6)/1.75
    // "b c": d1 norm 1.2 -> (ln(1.6) + ln(8/3))/2.2 ; d0 norm 1.65 -> ln(1.6)/2.65
    val docs = Array(Array(0, 1, 0), Array(1, 2), Array(0))
    val bm = new Bm25Ref(docs(_), 3, 3)
    check("bm25 avgdl")(bm.avgdl == 2.0)
    val a = bm.topK(Seq(0), 10)
    check("bm25 'a' order")(a.map(_._1).toSeq == Seq(2L, 0L))
    check("bm25 'a' d2")(near(a(0)._2, 0.26857350242613465, 1e-12))
    check("bm25 'a' d0")(near(a(1)._2, 0.2575362352031428, 1e-12))
    val bc = bm.topK(Seq(1, 2), 10)
    check("bm25 'b c' order")(bc.map(_._1).toSeq == Seq(1L, 0L))
    check("bm25 'b c' d1")(near(bc(0)._2, 0.65946949193521, 1e-12))
    check("bm25 'b c' d0")(near(bc(1)._2, 0.17735986009273044, 1e-12))
    check("bm25 df/ttf")(bm.df.toSeq == Seq(2L, 2L, 1L) && bm.ttf.toSeq == Seq(3L, 2L, 1L))
    check("bm25 top-1")(bm.topK(Seq(0), 1).map(_._1).toSeq == Seq(2L))

    // FIXTURES.md section 3: subq0 = [(2,0.5),(4,0.2)], subq1 = [(3,0.9),(4,0.7),(2,0.1)]
    import HybridModel._
    val s0 = Array((2L, 0.5), (4L, 0.2))
    val s1 = Array((3L, 0.9), (4L, 0.7), (2L, 0.1))
    def m(xs: Array[(Long, Double)]) = xs.toMap
    val mm0 = m(normalize(MinMax, s0))
    val mm1 = m(normalize(MinMax, s1))
    check("min_max subq0")(near(mm0(2L), 1.0, 1e-4) && near(mm0(4L), 0.001, 1e-4))
    check("min_max subq1")(near(mm1(3L), 1.0, 1e-4) && near(mm1(4L), 0.75, 1e-4) &&
      near(mm1(2L), 0.001, 1e-4))
    check("min_max single score")(normalize(MinMax, Array((7L, 0.42)))(0)._2 == 1.0)
    val l0 = m(normalize(L2, s0))
    check("l2 subq0")(near(l0(2L), 0.5 / math.sqrt(0.29), 1e-9) && near(l0(4L), 0.2 / math.sqrt(0.29), 1e-9))
    // subq1: mean 0.566667, sample sd 0.416333
    val z1 = m(normalize(ZScore, s1))
    check("z_score subq1")(near(z1(3L), 0.80064, 1e-3) && near(z1(4L), 0.32026, 1e-3) &&
      near(z1(2L), 0.001, 1e-4))
    val r = normalize(Rrf(), s1)
    check("rrf 1/(60+rank)")(r.map(_._2).toSeq == Seq(0.0163934426, 0.0161290323, 0.0158730159))
    check("arithmetic")(near(combine("arithmetic_mean", Array(0.5, 0.3), Nil), 0.4, 1e-12))
    check("arithmetic counts a zero")(near(combine("arithmetic_mean", Array(0.5, 0.0), Nil), 0.25, 1e-12))
    check("arithmetic weighted")(near(combine("arithmetic_mean", Array(0.5, 0.3), Seq(0.7, 0.3)), 0.44, 1e-12))
    check("geometric")(near(combine("geometric_mean", Array(0.5, 0.3), Nil), math.sqrt(0.15), 1e-12))
    check("geometric skips a zero")(near(combine("geometric_mean", Array(0.5, 0.0), Nil), 0.5, 1e-12))
    check("harmonic")(near(combine("harmonic_mean", Array(0.5, 0.3), Nil), 0.375, 1e-12))
    check("harmonic skips a zero")(near(combine("harmonic_mean", Array(0.5, 0.0), Nil), 0.5, 1e-12))
    check("rrf weighted sum")(near(combine("rrf", Array(0.5, 0.3), Nil), 0.8, 1e-12))
    // min_max + arithmetic over both sub-queries: doc 2 = (1.0 + 0.001)/2,
    // doc 3 = (0 + 1.0)/2, doc 4 = (0.001 + 0.75)/2
    val full = HybridModel.run(Seq(s0, s1), MinMax, "arithmetic_mean", Nil, 50, 0, 10, None)
    check("pipeline order")(full.map(_._1).toSeq == Seq(2L, 3L, 4L))
    check("pipeline scores")(near(full(0)._2, 0.5005, 1e-12) && near(full(1)._2, 0.5, 1e-12) &&
      near(full(2)._2, 0.3755, 1e-12))
    check("pipeline min_score + from")(
      HybridModel.run(Seq(s0, s1), MinMax, "arithmetic_mean", Nil, 50, 1, 10, Some(0.4))
        .map(_._1).toSeq == Seq(3L))

    check("compare accepts equal lists")(Ref.compare(a.toSeq, a.toSeq).isEmpty)
    check("compare rejects a wrong score")(Ref.compare(Seq((2L, 0.27), (0L, a(1)._2)), a.toSeq).nonEmpty)
    check("compare rejects a broken order")(Ref.compare(a.reverse.toSeq, a.toSeq).nonEmpty)
    failures.toSeq
  }

  def main(args: Array[String]): Unit = {
    val f = run()
    if (f.isEmpty) println("reference self-test: all checks passed")
    else { f.foreach(n => println(s"FAILED: $n")); sys.exit(1) }
  }
}
