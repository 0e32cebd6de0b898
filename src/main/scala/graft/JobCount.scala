package graft

/** Job-count probe: runs selected SparkEntry queries with the bench's
  * `.count()` action inside a per-query job group and reports how many
  * Spark JOBS each one launched (barrier checkpoints, convergence
  * actions, and the final count all included — everything the query
  * pays for inside the bench's timed region).
  *
  * Exists because the round-14 iterative-operator work moves cost that
  * `.explain` cannot show: eager barriers execute at DataFrame BUILD
  * time, so a convergence job folded into a checkpoint action (see
  * [[Iterate.zeroTestMarker]]) leaves the final physical plan
  * bit-identical — the evidence is the per-query job count, which this
  * tool measures directly.
  *
  * Usage: graft.JobCount [sfDir] [queryName ...]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.build("graft-jobcount")
    // mirror Bench: shared g-family projections are fixture work outside
    // any per-query measurement
    if (names.exists(_.startsWith("g")))
      SparkEntry.warmSharedProjections(spark, sfDir)
    names.foreach { n =>
      spark.sparkContext.setJobGroup(n, n)
      SparkEntry.queries(n)(spark, sfDir).count()
      spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(n).length
      println(s"JOBS $n $jobs")
    }
    spark.stop()
  }
}
