package graft

import org.apache.spark.sql.DataFrame

package object queries {

  private val cutSeq = new java.util.concurrent.atomic.AtomicLong()

  /** THE lineage cut of the engine: every loop round, every multi-consumer
    * intermediate and every re-sampled input is truncated here and nowhere
    * else. The mode is `dir`, falling back to `spark.graft.checkpointDir`.
    *
    *  - Local mode (no dir): an executor-local checkpoint, eager or lazy.
    *    Right for a single JVM, where executor loss is process death
    *    anyway. A lazy cut materializes inside the next action's job
    *    instead of a job of its own, which halves the action count of
    *    loops whose next step is an action anyway (the BPE merge pick); it
    *    cannot precede an Observation read (the CC loops), which would
    *    wait forever.
    *  - Reliable mode (dir set): on a cluster, executor-local blocks die
    *    with their executor (dynamic allocation, spot nodes), so the cut is
    *    a parquet round-trip under `<dir>/cut_<app id>_<n>` that survives
    *    it. ONE job computes and writes, and the returned frame scans the
    *    files; an RDD checkpoint would re-run the round in a second write
    *    job (persisting before it to avoid that measured slower on l30, r17).
    *    `eager` is ignored: a lazy cut of a chain would write only the
    *    topmost frame and recompute the rest. The files are never deleted;
    *    their lifetime is the directory owner's.
    *
    * Both modes return identical rows.
    */
  implicit class Cut(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = true, dir: Option[String] = None): DataFrame =
      dir.orElse(df.sparkSession.conf.getOption("spark.graft.checkpointDir"))
        match {
          case None => df.localCheckpoint(eager)
          case Some(d) =>
            val s = df.sparkSession
            val path =
              s"$d/cut_${s.sparkContext.applicationId}_${cutSeq.incrementAndGet()}"
            df.write.mode("error").parquet(path)
            s.read.parquet(path)
        }
  }
}
