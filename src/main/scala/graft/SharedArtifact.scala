package graft

import org.apache.spark.sql.SparkSession

/** A compute-once value several declared queries read: a checkpointed
  * candidate set, a trained model, an edge table. `apply(s, dir)` builds it
  * on first use and hands every later caller with the same (session, dir)
  * the identical value object.
  *
  * Policy, stated once for every artifact:
  *  - the key is the session OBJECT (reference equality — identityHashCode
  *    can collide across sessions and would hand out a value bound to a
  *    stopped session) plus the fixture dir;
  *  - one slot: a different (session, dir) rebuilds and drops the old
  *    reference, so its checkpoint blocks become GC-reclaimable
  *    (ContextCleaner) instead of pinning executor storage for the JVM
  *    lifetime;
  *  - the build runs under the artifact's lock, so concurrent first callers
  *    build once.
  *
  * A query that reads an artifact lists it (and the artifacts its build
  * reads) in [[Declared.uses]]; DeclaredUsesSpec checks the lists against
  * what each consumer actually builds.
  */
final class SharedArtifact[T](val name: String)(build: (SparkSession, String) => T) {
  private var slot: Option[(SparkSession, String, T)] = None
  SharedArtifact.registry.add(this)

  def apply(s: SparkSession, dir: String): T = synchronized {
    slot match {
      case Some((cs, cd, v)) if (cs eq s) && cd == dir => v
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
}
