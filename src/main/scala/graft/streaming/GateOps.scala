package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.llm.{Curation, Dedup}

/** The serving-index maintenance lifecycle's STREAMING orchestration —
  * the two operational rules the r16 pins established, as callable code
  * instead of scaladoc prose (PLANS.md r17 note 2):
  *
  *  1. Compaction under a live gate NEEDS A BOUNCE (StreamingSpec's
  *     needs-gate-bounce pin: a stream-static join refreshes its file
  *     LISTING per micro-batch but holds the RELATION's location
  *     resolved at query start, so a clean between-trigger swap still
  *     fails the next micro-batch with FAILED_READ_FILE). The bounce is
  *     [[compactUnderGate]]: quiesce → swap → restart, in that order,
  *     so no trigger can land inside the drop→rename window at all.
  *
  *  2. Every gate start must be RECOVERABLE-BY-CONSTRUCTION: a crash
  *     anywhere inside [[Dedup.compactIndex]]'s non-atomic swap leaves
  *     the catalog in one of the states [[Dedup.recoverCompact]]
  *     completes, so a boot sequence that recovers BEFORE resolving the
  *     gate's plan ([[bootGate]]) can never start a gate against a
  *     half-swapped index — the restart path IS the recovery path.
  *
  * At scale these run on the ingest orchestrator (one driver owns the
  * gate and its indexes); nothing here touches executors beyond the
  * compaction job itself. The third member, [[refreshIngestGate]], is
  * the admission loop itself — per-batch probe + admit over the same
  * standing indexes the other two maintain.
  */
object GateOps {

  /** Compact a bucketed serving table that a RUNNING stream-static gate
    * reads, without ever exposing the gate to the swap: stop the query
    * (Spark's `StreamingQuery.stop()` blocks until the execution thread
    * terminates, so no micro-batch is in flight afterwards), run the
    * drop→rename swap, then restart via `restart` — which must rebuild
    * the gate from `spark.table(...)` so the fresh plan resolves the
    * renamed table's NEW location. Returns the restarted query.
    *
    * A crash after the stop but inside the swap is recovered at the
    * next boot by [[bootGate]] — the pair is the lifecycle's
    * crash-consistency story: this function makes the happy path
    * trigger-free, the boot makes the unhappy path self-healing. */
  def compactUnderGate(
      spark: SparkSession, table: String, newPath: String,
      gate: StreamingQuery, restart: () => StreamingQuery): StreamingQuery = {
    gate.stop()
    Dedup.compactIndex(spark, table, newPath)
    restart()
  }

  /** Start (or restart) a gate whose stream-static side reads the given
    * bucketed serving tables, completing any interrupted compaction
    * swap FIRST: for each table, [[Dedup.recoverCompact]] finishes
    * whatever half-swap a previous process died inside ("renamed" /
    * "swapped"), or no-ops on a clean catalog — then, and only then,
    * `start` resolves the gate's plan against the recovered tables.
    * Returns the recovery action per table (for the operator's log)
    * alongside the started query.
    *
    * The (false, false) state — neither the table nor its
    * `_compacting` sibling registered — still throws loudly here: the
    * compacted write never committed and the probe tables are gone, so
    * starting a gate would be serving an absent index; the caller
    * re-runs the build, not the boot. */
  def bootGate(spark: SparkSession, tables: Seq[String])(
      start: () => StreamingQuery): (Map[String, String], StreamingQuery) = {
    val actions = tables.map(t => t -> Dedup.recoverCompact(spark, t)).toMap
    (actions, start())
  }

  /** [[bootGate]] covering BOTH index families a full refresh gate
    * reads: the catalog-backed bucketed tables (hash/band/gram/SRP and,
    * since the VERDICT r16 task 4 bucketing, the PINNED IVF `assigned`
    * table — all via [[Dedup.recoverCompact]]) and the path-based
    * cluster-partitioned IVF/PQ pairs
    * ([[graft.llm.Similarity.recoverCompactIvf]], whose swap states
    * live on the filesystem, not in the catalog). Each `ivfPath` is
    * dispatched by what the catalog knows: if the path's derived
    * pinned table (or its `_compacting` sibling) is registered, the
    * swap states are catalog states and the bucketed-table recovery
    * applies; otherwise the path belongs to the directory-partitioned
    * family and the filesystem recovery runs. One boot call heals
    * every standing artifact before the gate's plan resolves. */
  def bootGate(
      spark: SparkSession, tables: Seq[String], ivfPaths: Seq[String])(
      start: () => StreamingQuery): (Map[String, String], StreamingQuery) = {
    val tableActions = tables.map(t => t -> Dedup.recoverCompact(spark, t))
    val ivfActions = ivfPaths.map { p =>
      val t = graft.llm.Similarity.ivfPinnedTable(p)
      val known =
        spark.catalog.tableExists(t) || spark.catalog.tableExists(s"${t}_compacting")
      // FRESH-CATALOG healing (r18, VERDICT r17 task 3): when the
      // catalog knows nothing but the filesystem holds a pinned
      // index (sidecar-bearing assigned dir — the build OR the dir a
      // refit swapped in), re-attach the bucketed table from path +
      // sidecar before recovery. Without this, a pinned index on a
      // fresh catalog would mis-dispatch to the directory-partitioned
      // branch and the gate would resolve against an absent table.
      val attached = !known && {
        graft.llm.Similarity.pinnedAssignedDir(spark, p) match {
          case Some(dir) => Dedup.reattachBucketedTable(spark, t, dir)
          case None => false
        }
      }
      if (known || attached) {
        val action = Dedup.recoverCompact(spark, t)
        // a refit crash can leave the seeds CACHE stale relative to
        // the (recovered) table — heal it before the gate resolves
        val seeds =
          if (graft.llm.Similarity.recoverRefitSeeds(spark, p)) "+seeds" else ""
        p -> ((if (attached) "attached+" else "") + action + seeds)
      } else p -> graft.llm.Similarity.recoverCompactIvf(p)
    }
    ((tableActions ++ ivfActions).toMap, start())
  }

  /** [[bootGate]] for a FRESH CATALOG (r18, VERDICT r17 task 3 — the
    * last durable-metastore assumption dies): each catalog-backed
    * serving table is named WITH its on-disk location, and any table
    * the (possibly empty, in-memory) catalog does not know is
    * re-attached from location + bucket-spec sidecar
    * ([[Dedup.reattachBucketedTable]]) before the usual recovery runs
    * — so a brand-new process on a brand-new metastore serves every
    * index family from paths alone, exactly like the path-based IVF
    * tier always did. Tables the catalog already knows pass straight
    * through to recovery (the re-attach is a no-op); actions report
    * "attached+" in front of the recovery verb so the operator's log
    * shows which handles were healed from disk. The caller passes
    * each table's CURRENT location (after a compaction that moved the
    * data, that is the compaction's target path — the sidecar rides
    * the data). */
  def bootGate(
      spark: SparkSession, tablePaths: Map[String, String], ivfPaths: Seq[String])(
      start: () => StreamingQuery): (Map[String, String], StreamingQuery) = {
    val attached = tablePaths.collect {
      case (t, p) if Dedup.reattachBucketedTable(spark, t, p) => t
    }.toSet
    val (actions, q) = bootGate(spark, tablePaths.keys.toSeq, ivfPaths)(start)
    (actions.map { case (k, v) =>
      k -> (if (attached(k)) s"attached+$v" else v)
    }, q)
  }

  /** [[bootGate]] for the LAST uncovered crash combination (r19,
    * VERDICT r18 task 1): crash INSIDE a compaction/refit swap plus
    * catalog loss. In that state a bucketed serving table's data can
    * be at either of two locations — the committed predecessor or the
    * swap's candidate target — and a fresh catalog knows neither, so
    * the single-path [[bootGate]] form can't tell which to re-attach.
    * Here the caller passes EVERY location the table may live at
    * (typically the last build/compaction target plus the in-flight
    * one) and [[graft.llm.Dedup.resolveCommittedCandidate]] arbitrates
    * by the sidecar commit-epoch protocol: the newest COMMITTED
    * candidate is attached, mid-swap (committed=false) and superseded
    * candidates are DELETED — recovery is fully automatic for every
    * crash × catalog-loss combination, with the pinned IVF family
    * resolved the same way from its root listing (`ivfPaths`, via
    * [[graft.llm.Similarity.pinnedAssignedDir]]). One deliberate
    * deferral (r20, ADVICE r19): a mid-swap candidate whose writer
    * lease is still fresh is left in place — it may be a LIVE refit on
    * another driver, not a crash leftover — and is reclaimed by a
    * later boot once the lease ages past `graft.index.sweepLeaseTtlMs`.
    *
    * Tables the catalog still knows (or whose `_compacting` sibling it
    * knows) skip filesystem arbitration entirely: their swap states
    * are catalog states that [[graft.llm.Dedup.recoverCompact]]
    * completes, and deleting a directory the catalog references would
    * break that recovery. A table with NO sidecar-bearing candidate
    * fails loudly — nothing provably safe exists to serve. */
  def bootGateFromCandidates(
      spark: SparkSession, tableCandidates: Map[String, Seq[String]],
      ivfPaths: Seq[String])(
      start: () => StreamingQuery): (Map[String, String], StreamingQuery) = {
    val resolved = tableCandidates.map { case (t, paths) =>
      val known =
        spark.catalog.tableExists(t) || spark.catalog.tableExists(s"${t}_compacting")
      if (known) t -> paths.headOption.getOrElse("")
      else t -> Dedup.resolveCommittedCandidate(spark, paths).getOrElse(
        throw new IllegalStateException(
          s"no sidecar-bearing candidate for $t among ${paths.mkString(", ")} — " +
            "nothing to re-attach (re-run the build, or backfillSpecSidecar on " +
            "a catalog that still knows the table)"))
    }
    bootGate(spark, resolved, ivfPaths)(start)
  }

  /** The WHEN-TO-COMPACT rule as code (r17; the refit-cadence
    * discipline applied to the file-count axis): a bucketed serving
    * table gains at most one file per bucket per
    * [[Dedup.bucketedAppend]] (the one bucketed writer repartitions on
    * the bucket columns), and while the probe PLAN never regresses
    * (hash partitioning is a property of the spec), K appends are up
    * to K+1 files a bucket of per-task open overhead and lost
    * within-file sort locality. Returns true when the table holds
    * more than `maxFilesPerBucket` files a bucket on average — the
    * operator then runs [[compactUnderGate]] at the next quiet
    * window. Under the default, a table whose build and appends fill
    * every bucket trips on its 8th append (LlmSpec pins it). File
    * counts come from the table's own location listing via the Hadoop
    * FileSystem API (ADVICE r17: the old
    * `java.io.File` walk silently read 0 files for any hdfs:/s3a:
    * location — under-counting would suppress compaction forever;
    * the FS API is the object store's list-prefix at scale and
    * FAILS LOUDLY for a scheme with no configured filesystem). The
    * default 8 is the measured knee from the compaction specs'
    * fixtures: below it the fold buys little; growth past it is
    * unbounded. */
  def compactionDue(
      spark: SparkSession, table: String, maxFilesPerBucket: Int = 8): Boolean = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no bucket spec — compactionDue is for the bucketed serving tables"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(loc).count(_.getPath.getName.startsWith("part-"))
    files > buckets.toLong * maxFilesPerBucket
  }

  /** The ONLINE admission loop as API (the `streaming_merge_upsert`
    * foreachBatch discipline applied to the refresh gate): per
    * micro-batch, [[Curation.incrementalRefreshServed]] probes the
    * standing indexes with the arriving docs + embeddings, `onVerdicts`
    * receives the batch's verdict frame (already materialized — sink it
    * anywhere), and [[Curation.admitRefreshBatch]] enters the batch's
    * 'train' survivors into every index BEFORE the next trigger — so a
    * duplicate arriving one batch later duplicates against the ADMITTED
    * doc (StreamingSpec pins the two-batch loop through this API). The
    * per-batch work is all batch-plan code under foreachBatch, so
    * appends re-resolve the catalog each call (no gate bounce needed —
    * the stream side holds no static relation) and idempotence under
    * batch replay composes from the per-index anti-joins.
    *
    * `batches` must stream (doc_id, text, v) rows — the doc and its
    * embedding arrive TOGETHER (the shared-id-space convention); docs
    * without embeddings may pass v = null and skip the semantic net; an
    * optional `label` column rides into the IVF index with the admitted
    * vectors (absent → −1, unknown at ingest).
    *
    * Sink semantics (ADVICE r16): `onVerdicts` runs BEFORE admission,
    * on the already-materialized verdict frame, so the sunk history
    * always records what the probe actually computed for the batch as
    * it arrived. The sink is still AT-LEAST-ONCE — a crash anywhere in
    * the batch replays it, and the replay's verdicts read `exact_dup`
    * of-self for every formerly-admitted doc (the hash index already
    * holds them); consumers deriving admitted-doc counts should fold
    * self-dup rows into their originals (same doc_id). Admission itself
    * is exactly-once-effective under that replay: [[Curation
    * .admitRefreshBatch]] routes self-dups back through the per-index
    * anti-joins, healing any partial-admit crash state. */
  def refreshIngestGate(
      batches: DataFrame, spark: SparkSession,
      hashTable: String, bandTable: String, ivfPath: String,
      evGrams: DataFrame,
      onVerdicts: (DataFrame, Long) => Unit): StreamingQuery =
    batches.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val bb = Materialize(b)
        val bd = bb.select(col("doc_id"), col("text"))
        val embCols = col("doc_id").as("vec_id") +: col("v") +:
          (if (bb.columns.contains("label")) Seq(col("label")) else Nil)
        val be = bb.filter(col("v").isNotNull).select(embCols: _*)
        val verdicts = Materialize(Curation.incrementalRefreshServed(
          bd, be.select(col("vec_id"), col("v")), spark,
          hashTable, bandTable, ivfPath, evGrams))
        onVerdicts(verdicts, id)
        Curation.admitRefreshBatch(
          verdicts, bd, be, spark, hashTable, bandTable, ivfPath)
        ()
    }.start()
}
