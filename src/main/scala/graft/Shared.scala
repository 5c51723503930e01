package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo for artifacts that several declared queries read. An
  * artifact is a `val` in its query module, defined ABOVE every `Declared`
  * that lists it in `uses` (object initialisation order would otherwise
  * hand `Declared` a null, which its constructor rejects).
  *
  *  - [[Snapshot]]: a value (usually localCheckpointed DataFrames) built
  *    once per (session, dir) and shared by its consumers, as production
  *    materializes a model or index once per run and every readout reads
  *    it. One entry per artifact, keyed by the session OBJECT (reference
  *    equality: identityHashCode can collide and hand out a snapshot bound
  *    to a stopped session) and the dir. The artifact's own lock is held
  *    across compare, build and store, so a snapshot is never built twice
  *    for one key. Release rule: when another key supersedes the entry, the
  *    checkpointed RDD under every DataFrame the old value holds (the
  *    `LogicalRDD` leaf of its plan) is unpersisted before the new build —
  *    `Dataset.unpersist` does nothing for a local checkpoint, so without
  *    this the blocks stay pinned until a GC happens to clean them. A frame
  *    taken from a superseded value must not be read afterwards.
  *  - [[Fixture]]: an on-disk (or catalog) layout a production table pays
  *    once at write time, so timed query bodies must not rebuild it. Keyed
  *    by dir under the same lock; `ready` re-probes the layout on every
  *    access, so an externally cleaned scratch dir or a dropped table is
  *    rebuilt instead of trusted.
  */
object Shared {

  sealed abstract class Artifact(val name: String) {
    /** Builds the artifact for (s, dir) unless the memo already holds it. */
    def warm(s: SparkSession, dir: String): Unit
    override def toString: String = name
  }

  final class Snapshot[A] private[Shared] (
      name: String, build: (SparkSession, String) => A) extends Artifact(name) {
    private var entry: Option[(SparkSession, String, A)] = None

    def apply(s: SparkSession, dir: String): A = {
      touch(this)
      synchronized {
        entry match {
          case Some((s0, d0, v)) if (s0 eq s) && d0 == dir => v
          case old =>
            entry = None
            old.foreach { case (_, _, v) => release(v) }
            val v = untraced(build(s, dir))
            entry = Some((s, dir, v))
            v
        }
      }
    }

    def warm(s: SparkSession, dir: String): Unit = { apply(s, dir); () }
  }

  final class Fixture private[Shared] (
      name: String, ready: SparkSession => Boolean,
      build: (SparkSession, String) => Unit) extends Artifact(name) {
    private var builtFor: Option[String] = None

    def apply(s: SparkSession, dir: String): Unit = {
      touch(this)
      synchronized {
        if (!(builtFor.contains(dir) && ready(s))) {
          builtFor = None
          untraced(build(s, dir))
          builtFor = Some(dir)
        }
      }
    }

    def warm(s: SparkSession, dir: String): Unit = apply(s, dir)
  }

  def snapshot[A](name: String)(build: (SparkSession, String) => A): Snapshot[A] =
    new Snapshot(name, build)

  def fixture(name: String)(ready: SparkSession => Boolean)(
      build: (SparkSession, String) => Unit): Fixture =
    new Fixture(name, ready, build)

  /** Unpersists the checkpointed RDD under every Dataset reachable through
    * `v`'s tuples and collections — also what a build calls on its own
    * intermediate checkpoints once the value it stores no longer reads them.
    */
  private[graft] def release(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      ds.queryExecution.logical.collectLeaves().foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
    case xs: Iterable[_] => xs.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }

  // artifacts the current thread's query body read directly; builds run
  // untraced, so what one artifact reads is not charged to its consumer
  private val reads = new ThreadLocal[collection.mutable.Set[Artifact]]

  private def touch(a: Artifact): Unit = Option(reads.get).foreach(_ += a)

  private def untraced[A](body: => A): A = {
    val outer = reads.get
    reads.remove()
    try body finally reads.set(outer)
  }

  /** Runs `body` and returns the artifacts it read directly — what the
    * `uses` of the `Declared` whose body it is must list. */
  private[graft] def traced[A](body: => A): (A, Set[Artifact]) = {
    val outer = reads.get
    val seen = collection.mutable.LinkedHashSet.empty[Artifact]
    reads.set(seen)
    try (body, seen.toSet) finally reads.set(outer)
  }
}
