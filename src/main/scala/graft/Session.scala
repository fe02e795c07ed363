package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains (Bench, Verify, Explain) run on. */
object Session {
  def apply(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.sources.Tables.NanosFlag, "true")
      // small scan splits: the test corpora are single parquet files, and
      // pure-map queries otherwise run at input-split parallelism (1 core)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Status-store retention is pure driver overhead in a headless
      // sweep: even with the UI off, the app/SQL status listeners
      // retain the last 1000 executions (each holding the FULL plan
      // description string — 1000+-line plans here) plus 1000 jobs /
      // 1000 stages / 100k tasks in driver heap. Across a 318-query ×
      // 3-run sweep that is ~950 live plan graphs competing with
      // execution memory and listener-bus throughput (the measured
      // "in-sweep backlog" that inflated late queries 2-7× vs
      // isolation; the r14 bench A/B measured the bound at −18.6% of
      // sweep total). Keep a post-mortem handful; a long-lived
      // production driver wants the same bound for the same reason.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
