package graft.tools

/** ×K stress of the DBSCAN core census under density retuning
  * (round-14, verdict #5): the r13 stress showed the FIXED parameters at
  * ×10 density going 4.1×. This tool stages the key-shifted ×K customer
  * set (same `ScaleStress.buildScaled` corpus) and measures THREE
  * configurations against the base profile: (a) everything fixed — the
  * r13 number; (b) cell retuned, eps fixed — trims boundary waste only,
  * the candidate asymptotics n·(eps-disk·density) are eps's, not the
  * grid's; (c) eps retuned by the k-distance rule (eps' = eps/√K, the
  * tuning every DBSCAN deployment applies as density grows, keeping the
  * expected neighbor count — the density level-set — fixed), cell
  * following eps — per-point work returns to O(1) and the census scales
  * linearly. One JSON line per measurement for SCALE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.GeoScale [factor]
  */
object GeoScale {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.util.sweepStaleScratch()
    val spark = graft.GraftSession.build(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val scaledDir = graft.util.tempDir(s"graft_geoscale_x${factor}_")
    graft.ScaleStress.buildScaled(spark, baseDir, scaledDir, factor,
      only = Set("customer"))

    // the k-distance retune: eps' = eps/√K keeps the expected neighbor
    // count (the density level-set the (eps, minPts) pair encodes) fixed
    // as density grows ×K; the cell follows eps so the ring stays 3×5
    val epsBase = 500000L
    val epsRetuned = (epsBase / math.sqrt(factor.toDouble)).round
    val cellBase = 450
    // cell must be ≥ eps-in-lat-centideg, else latR jumps to 2 and the
    // ring quadruples — ceil + 1 keeps the retuned ring at 3×5
    val cellRetuned = math.max(50, math.ceil(epsRetuned / 1111.9).toInt + 1)
    val cellFine = math.max(50,
      (cellBase / math.sqrt(factor.toDouble)).round.toInt)
    def time(dir: String, epsM: Long, cell: Int): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.ops.Geo.dbscanCoreParam(spark, dir, epsM, cell).count()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val base = time(baseDir, epsBase, cellBase)
    val xFixed = time(scaledDir, epsBase, cellBase)
    val xFine = time(scaledDir, epsBase, cellFine)
    val xRetuned = time(scaledDir, epsRetuned, cellRetuned)
    val candBase = graft.ops.Geo.dbscanCandidateCount(
      spark, baseDir, epsBase, cellBase)
    val candFixed = graft.ops.Geo.dbscanCandidateCount(
      spark, scaledDir, epsBase, cellBase)
    val candRetuned = graft.ops.Geo.dbscanCandidateCount(
      spark, scaledDir, epsRetuned, cellRetuned)
    println(f"""{"geoscale":"base","eps_m":$epsBase,"cell":$cellBase,"sec":$base%.2f,"cands":$candBase}""")
    println(f"""{"geoscale":"x$factor","eps_m":$epsBase,"cell":$cellBase,"sec":$xFixed%.2f,"ratio_fixed":${xFixed / math.max(base, 1e-9)}%.1f,"cands":$candFixed,"work_ratio":${candFixed.toDouble / candBase}%.1f}""")
    println(f"""{"geoscale":"x$factor","eps_m":$epsBase,"cell":$cellFine,"sec":$xFine%.2f,"ratio_cell_retuned":${xFine / math.max(base, 1e-9)}%.1f}""")
    println(f"""{"geoscale":"x$factor","eps_m":$epsRetuned,"cell":$cellRetuned,"sec":$xRetuned%.2f,"ratio_eps_retuned":${xRetuned / math.max(base, 1e-9)}%.1f,"cands":$candRetuned,"work_ratio":${candRetuned.toDouble / candBase}%.1f}""")
    spark.stop()
  }
}
