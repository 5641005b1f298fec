package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every frame the library materializes
  * — iterative rounds, fan-out intermediates, probe inputs — goes
  * through this object, which owns three decisions.
  *
  * WHERE a frame is materialized ([[apply]]): a RELIABLE `checkpoint()`
  * into [[ConfKey]]'s directory when that session conf is set, a
  * `localCheckpoint()` otherwise. The local form is fastest
  * (executor-held blocks, no external write), but those blocks are
  * UNRELIABLE: an executor lost mid-run invalidates them, and because a
  * local checkpoint also severs lineage there is nothing to recompute
  * from — the job fails loudly (never partial data). The reliable form
  * survives any executor loss: recovery reads the checkpoint files,
  * nothing is recomputed. GraphsSpec pins both outcomes.
  *
  * Why TRUNCATE rather than persist: the iterative loops compose their
  * frames — BFS unions `dist` with each round's frontier, CC-star diffs
  * `next` against `e` — so without lineage truncation round r's plan
  * embeds the full TREE of rounds 1..r−1 at every reference, and
  * analysis cost goes exponential in the round count (an 11-round BFS
  * under a persist-between variant OOM'd the analyzer in
  * DeduplicateRelations before any task ran). Truncation keeps analysis
  * O(1) per round and lets a frame that outlives its cached inputs be
  * returned without recomputing them.
  *
  * HOW an input is cached and WHEN it is released ([[using]]): inputs
  * read more than once inside one computation are cached at
  * `MEMORY_AND_DISK` for the body and released in a `finally` — a
  * failing body leaks nothing into the session `CacheManager`, whose
  * entries would otherwise substitute into later, unrelated queries'
  * plans. Release is BLOCKING: the async form raced the checkpoint
  * job's block reads (BlockNotFoundException, caught by EdgeCaseSpec).
  */
object Materialize {

  /** Session-conf key naming the reliable checkpoint directory. Unset
    * (the default) → local checkpoints.
    *
    * ONE VALUE PER SparkContext: `SparkContext.checkpointDir` is
    * process-global, so two concurrent sessions of one JVM cannot get
    * different durable directories for free — [[apply]] serializes
    * reliable checkpoints and re-pins the context dir under the lock,
    * which keeps every write in the directory its session asked for,
    * at the cost of switching the global dir back and forth when
    * sessions disagree. Deployments should set ONE value per
    * SparkContext. Superseded checkpoint files are reclaimed on GC when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — set it
    * on long-running clusters or the directory grows one frame copy per
    * materialization. */
  val ConfKey = "graft.iter.checkpointDir"

  // the conf value this object last pushed into
  // SparkContext.setCheckpointDir — setCheckpointDir mints a fresh
  // random subdirectory per call, so it must run once per conf VALUE,
  // not once per materialization
  private var pushedDir: Option[String] = None

  /** Materialize `ds` and bound its lineage under the session's policy.
    * A frame that is already a checkpoint is returned as it is. */
  def apply[T](ds: Dataset[T]): Dataset[T] = ds.queryExecution.logical match {
    case l: LogicalRDD if l.rdd.isCheckpointed => ds
    case _ =>
      ds.sparkSession.conf.getOption(ConfKey).filter(_.nonEmpty) match {
        // cached around the write: RDD checkpointing recomputes the
        // lineage when the files are written after the materializing
        // action, so an uncached frame would pay its plan twice
        case Some(dir) => using(ds) { reliable(ds, dir) }
        case None => ds.localCheckpoint()
      }
  }

  // the lock spans the CHECKPOINT itself, not just the dir push: a
  // push-then-checkpoint-outside-the-lock window let a second session
  // with a different conf value send this session's write under the
  // other session's directory. The CONF is the explicit durability
  // intent, so it takes precedence over any context-level dir, which is
  // re-verified on every call and re-pinned when it is not one this
  // value minted.
  private def reliable[T](ds: Dataset[T], dir: String): Dataset[T] = synchronized {
    val sc = ds.sparkSession.sparkContext
    // setCheckpointDir creates a random subdir of `dir`, and the stored
    // value is the FS-qualified subdir path ("file:/…/<uuid>"): compare
    // against the qualified conf dir with a separator terminator, or a
    // bare path re-pushes every call and "…/ck" matches "…/ck-old"
    val qualifiedPrefix = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val q = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p).toString
      if (q.endsWith("/")) q else q + "/"
    }
    if (!pushedDir.contains(dir) ||
        !sc.getCheckpointDir.exists(_.startsWith(qualifiedPrefix))) {
      sc.setCheckpointDir(dir)
      pushedDir = Some(dir)
    }
    ds.checkpoint()
  }

  /** Run `body` with `inputs` cached at `MEMORY_AND_DISK`, and release
    * them — blocking, in a `finally` — when it returns or throws. A
    * frame the body returns is materialized with [[apply]] before the
    * release, so nothing lazy outlives the cache it was planned
    * against; any other result is returned as it is. */
  def using[A](inputs: Dataset[_]*)(body: => A): A = {
    inputs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body match {
      case ds: Dataset[_] => apply(ds).asInstanceOf[A]
      case a => a
    } finally inputs.foreach(_.unpersist(blocking = true))
  }
}
