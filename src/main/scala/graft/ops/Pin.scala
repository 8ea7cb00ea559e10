package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ContextBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Lineage pinning with a deployment-selectable durability mode.
  *
  * Every iterative kernel in this library (PageRank / connected
  * components / BPE merges / k-center / the range-prefix constructions)
  * materializes intermediate frames once and truncates their lineage so
  * deep fixed points don't accumulate an unbounded plan. On a single
  * JVM, `localCheckpoint` is exactly right: blocks pin in the
  * BlockManager at memory speed. On a REAL cluster it is a reliability
  * trap — a locally-checkpointed RDD lives only in its executors'
  * block stores, so one lost executor makes the lineage unrecoverable
  * and fails the whole multi-hour job (Spark logs exactly this:
  * "Checkpoint blocks ... found missing ... locally checkpointed
  * ... cannot be recomputed").
  *
  * [[pin]] therefore routes through the conf key
  * `spark.graft.checkpoint.dir`:
  *
  *  - unset/empty (the local-mode default): `localCheckpoint` —
  *    fastest, correct wherever executor loss implies job loss anyway.
  *  - set to an HDFS/S3/DBFS path (cluster deployments): reliable
  *    `Dataset.checkpoint()` — frames persist to the shared filesystem
  *    and survive executor loss; a lost task recomputes from the
  *    checkpoint files instead of dying. Costs one extra computation
  *    of the frame (the checkpoint job re-runs the RDD after the eager
  *    materialization) plus distributed-FS I/O — the standard price of
  *    fault tolerance for iterative Spark jobs.
  *
  * The checkpoint directory is installed on the SparkContext on first
  * use (per context+dir, so repeated pins don't spawn fresh UUID
  * subdirectories). Checkpoint files accumulate for the lifetime of the
  * job unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * lets the ContextCleaner reap them with their RDDs — set it in
  * cluster deployments (README "Cluster deployment" note).
  *
  * Iterative kernels free each superseded round with [[release]], which
  * frees exactly the block set behind the frame it is handed — no
  * BlockManager snapshots, no state shared between calls or threads, so
  * one call's result survives any later call and kernels may run as
  * [[Par]] arms. A kernel's returned pin is left to the ContextCleaner,
  * like every other frame. Reliable checkpoints never enter the block
  * store, so there [[release]] is a no-op. A local pin whose frame
  * throws while it materializes frees what it had stored before the
  * exception leaves [[pin]].
  *
  * [[pinKeyed]] pins a batch that is about to be upserted: the job that
  * stores it also returns its key tuples and the bytes it stored, so
  * the upsert drops those keys from the table with a literal filter
  * and sizes its write without planning a join against the batch.
  *
  * Both modes materialize the frame ONCE and freeze its rows —
  * anything derived from materialization order (`spark_partition_id`
  * in [[Stats.rangePrefixSums]]) is identical under either mode, which
  * CheckpointModeSpec pins by asserting bit-identical kernel outputs.
  */
object Pin {

  /** Conf key selecting reliable checkpointing; empty = localCheckpoint. */
  val DirConf = "spark.graft.checkpoint.dir"

  // remembers which (context, dir) pair already had setCheckpointDir
  // applied: setCheckpointDir mints a fresh UUID subdirectory per call,
  // so calling it per-pin would scatter files across directories
  @volatile private var applied: (SparkContext, String) = null

  /** Conf key enabling layout-aligned pinning (see [[pinAligned]]);
    * default resolved from the master type ([[defaultAligned]]). */
  val AlignConf = "spark.graft.pin.alignedLayout"

  /** Materialize `ds` eagerly and truncate its lineage — via
    * `localCheckpoint` (default) or reliable `checkpoint` when
    * `spark.graft.checkpoint.dir` is set. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val dir = ds.sparkSession.conf.get(DirConf, "")
    if (dir == null || dir.isEmpty) {
      // marked lazily, then materialized here, so that a frame whose
      // materialization throws frees the blocks it had begun to hold
      // (an eager localCheckpoint that fails leaves its RDD persisted).
      // The count's job stores every partition; the checkpoint that
      // runs after it finds them all stored and submits no job.
      val pinned = ds.localCheckpoint(eager = false)
      try rddOf(pinned).count()
      catch { case e: Throwable => release(pinned); throw e }
      pinned
    } else {
      val sc = ds.sparkSession.sparkContext
      if (applied == null || (applied._1 ne sc) || applied._2 != dir)
        Pin.synchronized {
          if (applied == null || (applied._1 ne sc) || applied._2 != dir) {
            sc.setCheckpointDir(dir)
            applied = (sc, dir)
          }
        }
      // Deliberately NOT persist-before-checkpoint (measured twice,
      // round 11): Spark's RDD.checkpoint Scaladoc recommends caching
      // so the checkpoint write job reads blocks instead of re-running
      // the lineage, but pricing MEMORY_AND_DISK-persist-then-unpersist
      // same-window showed it LOSES or ties everywhere we run — sf0.1
      // local[32] reliable: 1.15x total (q121/q99 1.59x — columnar
      // cache serialization swamps the cheap recompute; q99 even grew
      // shuffle bytes, the cached boundary blocks AQE); sf1
      // local-cluster[2,8] reliable: wall 0.84–1.12x ≈ noise with
      // strictly WORSE cpu on every query (q191 +28%, q121 +76%).
      // The double compute is real but cheaper than caching columnar
      // blocks it would avoid; revisit only with a storage level that
      // skips columnar serialization.
      ds.checkpoint()
    }
  }

  /** A pinned frame, the key tuples of its rows and the bytes its
    * blocks hold ([[pinKeyed]]). */
  final case class Keyed[T](frame: Dataset[T], keys: Seq[Row], storedBytes: Long)

  /** [[pin]] that also hands back each row's tuple of the `keys`
    * columns, in row order and with repeats, skipping tuples with a null
    * field. In local mode the frame is marked for `localCheckpoint`
    * lazily and one job over the pinned RDD stores every block and
    * returns the tuples, freeing what it stored if it throws;
    * `storedBytes` is what those blocks hold. In reliable mode the
    * frame is checkpointed and a second job reads the tuples back;
    * checkpoints hold no blocks, so `storedBytes` is 0. The tuples are
    * collected to the driver, so they must fit in its memory. */
  def pinKeyed[T](ds: Dataset[T], keys: Seq[String]): Keyed[T] = {
    val dir = ds.sparkSession.conf.get(DirConf, "")
    val pinned = if (dir == null || dir.isEmpty) ds.localCheckpoint(eager = false) else pin(ds)
    val schema = pinned.schema
    val keyType = StructType(keys.map(k => schema(k)))
    val refs = keys.map { k =>
      val i = schema.fieldIndex(k)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    val rdd = rddOf(pinned).asInstanceOf[RDD[InternalRow]]
    val tuples =
      try rdd.mapPartitions { rows =>
        val project = UnsafeProjection.create(refs)
        rows.map(project(_)).filterNot(_.anyNull).map(_.copy())
      }.collect()
      catch { case e: Throwable => release(pinned); throw e }
    val toRow = CatalystTypeConverters.createToScalaConverter(keyType)
    val bytes = ds.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .fold(0L)(i => i.memSize + i.diskSize)
    Keyed(pinned, tuples.toSeq.map(t => toRow(t).asInstanceOf[Row]), bytes)
  }

  /** Free the block set behind each pinned frame — a round's pin once
    * the next round supersedes it. A pin's logical plan is a bare
    * `LogicalRDD` whose RDD is exactly the block set the pin added, so
    * anything else is refused. Reliable checkpoints hold no blocks:
    * for them this is a no-op. Reading a frame after releasing it
    * fails. */
  def release(frames: Dataset[_]*): Unit = frames.foreach { ds =>
    val rdd = rddOf(ds)
    if (rdd.getStorageLevel != StorageLevel.NONE)
      ContextBridge.unpersist(ds.sparkSession.sparkContext, rdd.id)
  }

  private def rddOf(ds: Dataset[_]): RDD[_] = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => throw new IllegalArgumentException(
      s"Pin.release takes a pinned frame, got ${p.nodeName}")
  }

  /** True when layout-aligned pinning is enabled on this session.
    * An explicit `spark.graft.pin.alignedLayout` conf always wins
    * (it's an unregistered key, so `getOption` is None exactly when
    * the user never set it); with no conf the default is resolved
    * from the master type by [[defaultAligned]]. */
  def aligned(sess: SparkSession): Boolean =
    sess.conf.getOption(AlignConf) match {
      case Some(v) => v == "true"
      case None => defaultAligned(sess.sparkContext.isLocal)
    }

  /** Master-type default for aligned pinning, factored pure so the spec
    * can pin the rule: OFF for `local`/`local[*]` masters (in-process
    * shuffle is memory-speed — aligning costs AQE coalescing and buys
    * nothing, measured round 9), ON for everything else
    * (`local-cluster`, `spark://`, YARN, k8s — shuffle crosses a
    * process/network boundary, where the round-10 `local-cluster`
    * pricing showed aligned pinning wins BOTH wall (0.85–0.97×) and
    * shuffle bytes (0.64–0.86×) on the iterative graph kernels).
    * `SparkContext.isLocal` is exactly the local[*] predicate —
    * `local-cluster` masters report false. */
  def defaultAligned(masterIsLocal: Boolean): Boolean = !masterIsLocal

  /** Pin with a DECLARED join-key layout — the network-shuffle
    * deployment knob. When `spark.graft.pin.alignedLayout=true`, the
    * frame materializes as `repartition(n, keys)` with `n` =
    * `spark.sql.shuffle.partitions` (a repartition to an explicit
    * number, which AQE never coalesces), and the pinned frame is
    * rebuilt over the same RDD declaring `HashPartitioning(keys, n)`.
    * A checkpoint taken through an `AdaptiveSparkPlan` reports
    * `UnknownPartitioning` and so FORGETS the layout; declared, every
    * iteration of a fixed-point kernel satisfies its join's clustering
    * requirement straight from the pinned frame instead of
    * re-exchanging it per round. AQE stays on throughout.
    *
    * The default SELF-RESOLVES from the master type ([[defaultAligned]]
    * holds the measured trade: the aligned layout cuts the iterative
    * graph kernels' shuffle 25–45% at sf0.1 and sf1, and pays off in
    * wall time only where shuffle crosses a process boundary); an
    * explicit `spark.graft.pin.alignedLayout` conf overrides it either
    * way. Either setting is output-identical (AlignedPinSpec). */
  def pinAligned[T](ds: Dataset[T], keys: Column*): Dataset[T] =
    if (!aligned(ds.sparkSession)) pin(ds)
    else {
      val n = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      ColumnBridge.withHashLayout(pin(ds.repartition(n, keys: _*)), keys, n)
    }

  /** Postfix spelling, so kernels keep reading as plan pipelines:
    * `frame.join(...).distinct().pinned`. */
  implicit class PinSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned: Dataset[T] = pin(ds)
    /** [[pinAligned]] postfix: `edges.pinnedBy(col("src"))`. */
    def pinnedBy(keys: Column*): Dataset[T] =
      pinAligned(ds, keys: _*)
  }
}
