package graft

/** Dev tool (r8): dump the EXACT scrubbed canonicalized-plan text that
  * `Graft.planSignature` hashes, one file per query, so two runs (on
  * different data layouts or session confs) can be text-diffed to
  * root-cause a plan-hash flip — the hash alone says "something moved",
  * the text says WHAT. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> [qprefix,qprefix...]
  * Optional env SPARK_GRAFT_MAXPART: overrides
  * spark.sql.files.maxPartitionBytes for the run (perturbs scan split
  * counts without touching the data — the honest stats-perturbation
  * probe for classify). SPARK_GRAFT_CPUS sizes the session as in
  * Bench and Verify (Graft.driverSession).
  */
object PlanDump {

  /** The scrubbed plan text planSignature hashes (delegates to
    * Graft.planScrub so the dump can never diverge from the hash).
    */
  def planText(df: org.apache.spark.sql.DataFrame): String =
    Graft.planScrub(df.queryExecution.optimizedPlan.canonicalized.toString)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val only = args.lift(2).map(_.split(",").toSeq)
    val spark = Graft.driverSession()
    sys.env.get("SPARK_GRAFT_MAXPART").foreach(v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          java.nio.file.Files.writeString(
            outDir.resolve(s"$name.plan"),
            planText(df) + "\n")
          if (sys.env.contains("SPARK_GRAFT_RAW"))
            java.nio.file.Files.writeString(
              outDir.resolve(s"$name.raw"),
              df.queryExecution.optimizedPlan.canonicalized.toString + "\n")
        } catch { case e: Throwable =>
          java.nio.file.Files.writeString(
            outDir.resolve(s"$name.err"), e.toString + "\n")
        }
      }
    spark.stop()
  }
}
