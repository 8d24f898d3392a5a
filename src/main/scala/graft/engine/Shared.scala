package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session memo: a value several registered queries share, built
  * once per (name, session, dir) and then read by name — the
  * reference's register-once view registry
  * (k8s/codes/transformation.py:30-37) applied to derived relations.
  *
  * Names in use, with the registered keys that share each:
  *   - `nearDup.pairs` (with its shingle-set cache) and
  *     `nearDup.labels`: the near-dup trio (Dedup);
  *   - `substr.dupPos`: the exact-substring pair (Dedup);
  *   - `containment.pairs`: q_containment_join + q_pagerank_docs;
  *   - `graph.edges` and `graph.nodes`: the event-graph family;
  *   - `typo.namePairs`: the typo twins (MiningOps);
  *   - `ts.daily`: the time-series family; `ts.stl`: its STL pair;
  *   - `embed.gram`: q_embed_gram + q_pca_project;
  *   - `ivf.centroids/k/iters`: q_ann_ivf_topk + q_ann_ivfpq_topk;
  *   - `bpe.train`: the BPE trio (TextOps).
  *
  * Discipline:
  *   - a build runs outside the map, under its own entry's lock: same-
  *     key callers wait for the one build, other keys proceed in
  *     parallel, and a build may read other memos (`ts.stl` builds
  *     `ts.daily`, `nearDup.labels` builds `nearDup.pairs`) — which a
  *     `computeIfAbsent` build could not ("Recursive update");
  *   - entries of stopped sessions are evicted on every call;
  *   - [[clear]] holds the write side of a lock every call holds on
  *     its read side, so it waits for in-flight builds and no build
  *     straddles it.
  *
  * Each call site picks its own materialization (eager localCheckpoint
  * for plan-truncation, lazy persist to keep the plan auditable — the
  * measured reasons sit at the call sites); the registry only holds the
  * value. Assumes a `dir`'s tables are immutable within a session.
  */
object Shared {
  private final class Entry {
    @volatile var value: AnyRef = _
    // checkpoint RDDs the value reads that no other entry owned when it
    // was built: what [[clear]] frees besides the value's cached plans
    @volatile var own: Seq[RDD[_]] = Nil
  }

  private val entries = new ConcurrentHashMap[(String, SparkSession, String), Entry]()
  private val clearing = new ReentrantReadWriteLock()

  def apply[T <: AnyRef](name: String, s: SparkSession, dir: String)(build: => T): T = {
    val held = clearing.readLock()
    held.lock()
    try {
      entries.keySet.removeIf(_._2.sparkContext.isStopped)
      val e = entries.computeIfAbsent((name, s, dir), _ => new Entry)
      if (e.value == null) e.synchronized {
        if (e.value == null) {
          val v = build
          val owned = entries.values.asScala.flatMap(_.own).map(_.id).toSet
          e.own = checkpoints(v).filterNot(r => owned(r.id))
          e.value = v
        }
      }
      e.value.asInstanceOf[T]
    } finally held.unlock()
  }

  /** The one release path: unpersists every memo's cached plans, frees
    * the checkpoint RDDs it owns, and drops every entry. A DataFrame
    * built from a memo before the clear must not run after it.
    */
  def clear(): Unit = {
    val held = clearing.writeLock()
    held.lock()
    try {
      entries.values.forEach { e =>
        try {
          frames(e.value).foreach(_.unpersist())
          e.own.foreach(_.unpersist())
        } catch { case NonFatal(_) => () } // a stopped session's blocks are already gone
      }
      entries.clear()
    } finally held.unlock()
  }

  private[graft] def size: Int = entries.size

  // the DataFrames inside a memo value (a frame, or a tuple of them)
  private def frames(v: Any): Seq[DataFrame] = v match {
    case df: DataFrame @unchecked => Seq(df)
    case p: Product               => p.productIterator.flatMap(frames).toSeq
    case _                        => Nil
  }

  // a localCheckpoint's plan is a LogicalRDD leaf over the checkpointed
  // RDD; unpersisting the DataFrame leaves that RDD registered, so it
  // must be freed by hand
  private def checkpoints(v: Any): Seq[RDD[_]] =
    frames(v).flatMap(_.queryExecution.logical.collectWithSubqueries {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
    }).distinctBy(_.id)
}
