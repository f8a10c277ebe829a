package graft

import org.apache.spark.sql.SparkSession

/** A compute-once value several declared queries read: a checkpointed
  * candidate set, a trained model, an edge table — or, built through
  * [[SharedArtifact.onDisk]], a fixture LAYOUT (a bucketed table copy, a
  * partitioned or small-file copy, a persisted index) whose value is where
  * it lives. `apply(s, dir)` builds it on first use and hands every later
  * caller with the same (session, dir) the identical value object.
  *
  * Policy, stated once for every artifact:
  *  - the key is the session OBJECT (reference equality — identityHashCode
  *    can collide across sessions and would hand out a value bound to a
  *    stopped session) plus the fixture dir;
  *  - one slot: a different (session, dir) rebuilds and drops the old
  *    reference, so its checkpoint blocks become GC-reclaimable
  *    (ContextCleaner) instead of pinning executor storage for the JVM
  *    lifetime;
  *  - an on-disk artifact's hit also needs its `ready` probe to pass, so a
  *    scratch dir cleaned outside the program or a dropped catalog table is
  *    rebuilt instead of trusted (the key alone is NOT proof); an in-memory
  *    artifact has no probe, so every same-key call hits;
  *  - the build runs under the artifact's lock, so concurrent first callers
  *    build once.
  *
  * A query that reads an artifact lists it (and the artifacts its build
  * reads) in [[Declared.uses]]; DeclaredUsesSpec checks the lists against
  * what each consumer actually builds.
  */
final class SharedArtifact[T] private (
    val name: String, ready: Option[(SparkSession, T) => Boolean])(
    build: (SparkSession, String) => T) {
  private var slot: Option[(SparkSession, String, T)] = None
  SharedArtifact.registry.add(this)

  /** An in-memory artifact. */
  def this(name: String)(build: (SparkSession, String) => T) = this(name, None)(build)

  /** Whether the value lives on disk — layout work a production table pays
    * once at write time, which Bench therefore always pre-builds. */
  def onDisk: Boolean = ready.isDefined

  def apply(s: SparkSession, dir: String): T = synchronized {
    slot match {
      case Some((cs, cd, v)) if (cs eq s) && cd == dir && ready.forall(_(s, v)) => v
      case _ =>
        val v = build(s, dir)
        slot = Some((s, dir, v))
        v
    }
  }

  /** Whether the slot currently holds the value for (s, dir). */
  private[graft] def holds(s: SparkSession, dir: String): Boolean = synchronized {
    slot.exists { case (cs, cd, _) => (cs eq s) && cd == dir }
  }

  override def toString: String = name
}

object SharedArtifact {
  /** Every artifact constructed so far (each query module registers its own
    * when it initializes), for the uses-consistency check. */
  private[graft] val registry = new java.util.concurrent.ConcurrentLinkedQueue[SharedArtifact[_]]()

  /** An on-disk artifact: `build` writes the layout and returns its value
    * (its path), `ready` re-probes that value on disk or in the catalog
    * before every hit. */
  def onDisk[T](name: String)(ready: (SparkSession, T) => Boolean)(
      build: (SparkSession, String) => T): SharedArtifact[T] =
    new SharedArtifact(name, Some(ready))(build)
}
