package graft

import org.apache.spark.sql.functions._

/** Knob-tuning harness for the ANN scale paths: measures recall@5 (on a
  * query sample, vs exact brute force) and wall-clock (on the full query
  * set) for candidate knob settings at a given corpus — typically the 10×
  * ScaleProbe replica, where the adaptive knobs actually engage. Evidence
  * behind the defaults in [[graft.ann.Similarity.lshTopK]] and
  * [[graft.ann.Ivf.topK]]; not part of the driver contract.
  *
  * `runMain graft.AnnProbe [dir]
  *   [lsh:bits,depth,tables | ivf:nlist,nprobe | ivfpq:ks,refine ...]`
  * (0 = auto)
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val variants: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("lsh:0,0,6", "lsh:8,1,6", "ivf:0,0", "ivf:16,4",
        "ivfpq:16,8", "ivfpq:64,16")
    val spark = Session.local()

    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    // Query sets come from the BASE copy only (ScaleProbe replicas shift
    // copy i by 1e8·i), so |Q| is identical at every scale point and the
    // timing column measures per-query scaling, not |Q|·n growth
    // (VERDICT r7 #3). Recall is still judged against the FULL corpus.
    val base = e.filter(col("vec_id") < lit(100000000L))
    // denser pmod than the old corpus-wide sets: the base copy is ~n/copies
    // vectors, and these densities recover roughly the old sample SIZES
    // (≈n/500 recall queries, ≈n/50 timing queries at a 10× replica)
    val qAll = base.filter(pmod(col("vec_id"), lit(5)) === 0)    // timing set
    val qSample = base.filter(pmod(col("vec_id"), lit(50)) === 0) // recall set

    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "cid").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val truth = sets(graft.ann.Similarity.bruteForceTopK(e, qSample, 5))
    println(s"[annprobe] corpus=$n, recall sample=${truth.size} queries")

    for (v <- variants) {
      val Array(family, knobStr) = v.split(":", 2)
      val knobs = knobStr.split(",").map(_.toInt)
      def run(queries: org.apache.spark.sql.DataFrame) = family match {
        case "lsh" => graft.ann.Similarity.lshTopK(spark, e, queries, 5,
          numTables = knobs(2), bitsPerTable = knobs(0), probeDepth = knobs(1))
        case "ivf" => graft.ann.Ivf.topK(spark, e, queries, 5,
          nLists = knobs(0), nProbe = knobs(1))
        case "ivfpq" => graft.ann.IvfPq.topK(spark, e, queries, 5,
          // 0 = auto, like the other families (the operator's defaults)
          ks = if (knobs(0) > 0) knobs(0) else 64,
          refine = if (knobs(1) > 0) knobs(1) else 16)
        case other => sys.error(s"unknown family $other")
      }
      val found = sets(run(qSample))
      val recall = truth.map { case (q, t) =>
        found.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
      }.sum / truth.size
      // warm once, then time the full query set twice, keep min
      def t(): Double = {
        val t0 = System.nanoTime()
        run(qAll).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      t()
      val sec = math.min(t(), t())
      println(f"[annprobe] $v -> recall@5=$recall%.3f time=$sec%.2f s")
    }
    spark.stop()
  }
}
