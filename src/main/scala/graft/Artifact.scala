package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** A derived structure kept once per (session, dir[, param]): the token
  * hub, the dictionary, per-doc stats, signatures, memoized results. Each
  * is declared once, in the object that builds it, with the name the audit
  * tools print and a [[Artifact.Kind]]; [[Caches]] derives eviction and the
  * warmup-completeness instrument from the registry of declarations.
  *
  * Keys are `sessionKey#dir[#param…]`. A fill is single-flight per key: the
  * hit path is a plain map read; a miss installs a holder with
  * `computeIfAbsent` and runs the build under that holder's own lock,
  * outside the map's bin lock, so concurrent first callers share one build
  * and one value. A build that throws leaves no entry: the callers waiting
  * on it see the same exception, and the next caller rebuilds.
  */
final class Artifact[V] private (val name: String, val kind: Artifact.Kind,
    stage: V => V, free: (String, V) => Unit) {
  import Artifact.Fill

  private val fills = new ConcurrentHashMap[String, Fill[V]]()

  def apply(spark: SparkSession, dir: String, params: Any*)(build: => V): V = {
    val key = (GraftBridge.sessionKey(spark) +: dir +: params).mkString("#")
    val hit = fills.get(key)
    val fill = if (hit != null) hit else fills.computeIfAbsent(key, _ => new Fill(() => stage(build)))
    try fill.value
    catch { case e: Throwable => fills.remove(key, fill); throw e }
  }

  /** Every key with an entry, built or still building. */
  def keys: Seq[String] = fills.keySet.asScala.toSeq

  /** (key, value) of every completed fill. */
  def filled: Seq[(String, V)] =
    fills.asScala.toSeq.flatMap { case (k, f) => f.peek.map(k -> _) }

  /** Drop every entry whose key satisfies `p` and free its value. An entry
    * still building is dropped without waiting for it, so its value is
    * never freed here.
    */
  def evict(p: String => Boolean): Unit =
    keys.filter(p).foreach(k => Option(fills.remove(k)).flatMap(_.peek).foreach(free(k, _)))
}

object Artifact {
  sealed trait Kind
  /** A precomputable per-item structure a deployment keeps resident:
    * signatures, fingerprints, the token hub, tf-idf weights, bit-sets.
    */
  case object Index extends Kind
  /** A detection or search output (cluster labels, verified pairs, kNN
    * tables): `Caches.clearResultMemos` evicts it, so every bench pass
    * re-pays it once, in its alphabetically-first consumer.
    */
  case object Result extends Kind

  private val declared = new ConcurrentLinkedQueue[Artifact[_]]()

  /** Declared artifacts in name order (see `Caches.registry`). */
  private[graft] def all: Seq[Artifact[_]] = declared.asScala.toSeq.sortBy(_.name)

  private def declare[V](a: Artifact[V]): Artifact[V] = { declared.add(a); a }

  /** A relation: its build returns a plain frame, which the fill persists
    * with `Stage.keep`. The default free is `Stage.free` (the persist and
    * every checkpoint the build staged under it); `free` also gets the
    * entry's key.
    */
  def relation(name: String, kind: Kind,
      free: (String, DataFrame) => Unit = (_, df) => Stage.free(df)): Artifact[DataFrame] =
    declare(new Artifact(name, kind, Stage.keep, free))

  /** A driver-side value: nothing to free beyond the entry. */
  def value[V](name: String, kind: Kind): Artifact[V] =
    declare(new Artifact[V](name, kind, identity, (_, _) => ()))

  /** One key's build, run at most once; the outcome, value or exception,
    * is kept for every caller that reached this holder.
    */
  private final class Fill[V](private var build: () => V) {
    @volatile private var outcome: Try[V] = _

    def value: V = {
      val o = outcome
      (if (o != null) o else synchronized {
        if (outcome == null) {
          outcome = try Success(build()) catch { case e: Throwable => Failure(e) }
          build = null // the closure may hold plans and relations
        }
        outcome
      }).get
    }

    def peek: Option[V] = Option(outcome).flatMap(_.toOption)
  }
}
