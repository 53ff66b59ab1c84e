package org.apache.spark.sql.graft

import java.lang.ref.SoftReference
import java.util.WeakHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Planning-conf overrides scoped to one kernel without writing the
  * caller's session conf. The kernel runs in a child session (a
  * `cloneSession()` of the caller's, plus the overrides); its result is
  * handed back as a frame of the caller's session. Any other query on
  * the caller's session, on any thread, keeps planning under the
  * caller's conf while the kernel runs. This is the only place the
  * engine overrides a planning conf.
  *
  * Children are reused: one per (parent session, override set), rebuilt
  * only when the parent's conf has changed since the clone was taken.
  * A clone per call costs a fresh session state (catalog, function
  * registry, analyzer) on every kernel invocation: on a 4-core host, a
  * 1-partition 20k-edge min-label loop at `local[4]` measured +26 %
  * over the reused child. Parents are held weakly; a child is held
  * softly, because it references its parent and a strong value would
  * keep the weak key alive forever.
  */
object ScopedPlanning {

  private final case class Child(snapshot: Map[String, String],
      session: classic.SparkSession)

  private val children = new WeakHashMap[classic.SparkSession,
    mutable.Map[Map[String, String], SoftReference[Child]]]()

  /** The child of `parent` carrying `overrides`, cloned afresh when
    * none is cached or the parent's conf differs from the cached
    * child's snapshot. */
  private def childOf(parent: classic.SparkSession,
      overrides: Map[String, String]): classic.SparkSession =
    children.synchronized {
      val snapshot = parent.conf.getAll
      val byOverrides = children.computeIfAbsent(parent, _ => mutable.Map.empty)
      byOverrides.get(overrides).flatMap(r => Option(r.get))
        .filter(_.snapshot == snapshot).map(_.session).getOrElse {
          val child = parent.cloneSession()
          overrides.foreach { case (k, v) => child.conf.set(k, v) }
          byOverrides(overrides) = new SoftReference(Child(snapshot, child))
          child
        }
    }

  /** Runs `body` planned under `overrides` and returns its result as a
    * frame of `parent`. `body` receives `adopt`, which re-wraps a frame
    * of `parent` into the child session: a frame derived from an adopted
    * frame (other frames may join in) plans and executes under the
    * overrides; a frame derived from none stays in the parent. The body
    * must materialise its result (e.g. `localCheckpoint()`) — a lazy
    * result would be planned again, under the parent's conf, by whoever
    * consumes it. */
  def run(parent: SparkSession, overrides: Map[String, String])(
      body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val p = parent.asInstanceOf[classic.SparkSession]
    val child = childOf(p, overrides)
    val out = body(df => classic.Dataset.ofRows(child,
      df.asInstanceOf[classic.Dataset[_]].logicalPlan))
    classic.Dataset.ofRows(p, out.asInstanceOf[classic.Dataset[_]].logicalPlan)
  }
}
