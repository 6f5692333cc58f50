package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import scala.util.chaining._

/** How a derivation's value is held between the queries that read it. */
sealed abstract class Storage[A] {
  /** Applied once to each freshly built value; returns the value to keep. */
  private[graft] def hold(a: A): A = a
  /** The frame this policy registered with the cache manager, if any. */
  private[graft] def persisted(a: A): Option[DataFrame] = None
}

object Storage {
  /** `persist(level)`-ed on build; invalidate unpersists it. An `eager`
    * frame is also computed on build, so every plan built over it sees its
    * real size: the joins of the frames derived from the watermarks are
    * planned from it.
    *
    * The cache manager is shared by every session of a context and matches
    * frames by plan, so two keys holding equal plans would share one cache
    * entry, and releasing one key would uncache the other's frame. Each
    * build therefore persists its frame under a plan of its own: a literal
    * projected and dropped again, which the optimizer removes, so the
    * cached data and every operator stay those of the built frame. A plan
    * rebuilt outside the registry does not match it: read the declaration. */
  final case class Persisted(level: StorageLevel, eager: Boolean = false)
      extends Storage[DataFrame] {
    override private[graft] def hold(df: DataFrame): DataFrame = {
      val held = df.withColumn(KeyColumn, lit(builds.incrementAndGet()))
        .drop(KeyColumn).persist(level)
      if (eager) held.count()
      held
    }
    override private[graft] def persisted(df: DataFrame): Option[DataFrame] = Some(df)
  }
  private val KeyColumn = "__derivation_build"
  private val builds = new java.util.concurrent.atomic.AtomicLong()

  val MemoryAndDisk: Storage[DataFrame] = Persisted(StorageLevel.MEMORY_AND_DISK)
  /** For token-proportional state: disk blocks model the production read of
    * a lake table without taxing the heap. */
  val DiskOnly: Storage[DataFrame] = Persisted(StorageLevel.DISK_ONLY)

  /** The build returns a frame whose data it already materialized outside
    * the cache manager (driver rows or a persisted RDD, as the cluster
    * labels are); the ContextCleaner releases those blocks once the
    * dropped reference is collected. */
  case object SelfManaged extends Storage[DataFrame]

  /** Driver-side state (centroids, codebooks, merge lists, a split id):
    * invalidate just drops the reference. */
  final case class Driver[A]() extends Storage[A]
}

/** Where the warmup materializes a derivation. */
sealed trait Warm
object Warm {
  /** In a task of its own, reported under the derivation's name. */
  case object Own extends Warm
  /** In the named task, which materializes all of its parts in turn. */
  final case class PartOf(task: String) extends Warm
  /** In no task of its own: built inside the task of its first declared
    * dependent. */
  case object Inner extends Warm
}

/** One shared derivation, declared once: the derivations its build reads
  * (`deps`), how its value is held (`storage`) and how it is built. A
  * value lives per (session, dir) key, plus `variant` when a session
  * setting picks between builds (the cosine pair set's LSH bit width).
  *
  * `apply` builds at most once per key: each key has its own cell, built
  * under that cell's lock only, so nested builds of other keys proceed and
  * concurrent requests for one key wait for the one build. A build that
  * throws leaves no cell; the next request builds again. */
final class Derivation[A] private[graft] (
    val name: String,
    val deps: Seq[Derivation[_]],
    val storage: Storage[A],
    val warm: Warm,
    variant: (SparkSession, String) => Any,
    build: (SparkSession, String) => A) {
  import Derivation.{Cell, Key}

  private val cells = new ConcurrentHashMap[Key, Cell[A]]()

  def apply(s: SparkSession, dir: String): A = {
    val key = Key(s, dir, variant(s, dir))
    val cell = cells.computeIfAbsent(key, _ => new Cell[A])
    val value = cell.synchronized {
      if (cell.value.isEmpty && (cells.get(key) eq cell)) {
        try cell.value = Some(storage.hold(build(s, dir)))
        finally if (cell.value.isEmpty) cells.remove(key, cell)
      }
      cell.value
    }
    // empty only when the cell was dropped before this request got it
    value.getOrElse(apply(s, dir))
  }

  /** Builds the value and, for a frame, computes it; driver state is
    * complete once built. */
  private[graft] def materialize(s: SparkSession, dir: String): Unit =
    apply(s, dir) match { case df: Dataset[_] => df.count(); case _ => }

  private[graft] def persistedFrames(s: SparkSession, dir: String): Iterable[DataFrame] =
    cells.asScala.collect { case (k, c) if (k.session eq s) && k.dir == dir => c.value }
      .flatten.flatMap(storage.persisted)

  private[graft] def keyCount(s: SparkSession): Int =
    cells.keySet.asScala.count(_.session eq s)

  /** Drops every key of (session, dir), any variant, and returns the
    * dropped persisted frames; waits for a build in flight to finish. */
  private[graft] def drop(s: SparkSession, dir: String): Seq[DataFrame] =
    cells.keySet.asScala.filter(k => (k.session eq s) && k.dir == dir).toSeq
      .flatMap(k => Option(cells.remove(k)))
      .flatMap(c => c.synchronized(c.value))
      .flatMap(storage.persisted)
}

object Derivation {
  private final case class Key(session: SparkSession, dir: String, variant: Any)
  private final class Cell[A] { @volatile var value: Option[A] = None }
}

/** An ordered set of declarations. `invalidate`, `cachedFrames`,
  * `keyCount` and the warmup plan iterate it; a registry that `includes`
  * another iterates that one's declarations after its own. */
final class Derivations(includes: Derivations*) {
  private var declared = Vector.empty[Derivation[_]]

  /** Declares a derivation. Declare it after every derivation in `deps`. */
  def apply[A](name: String, deps: Seq[Derivation[_]], storage: Storage[A],
               build: (SparkSession, String) => A, warm: Warm = Warm.Own,
               variant: (SparkSession, String) => Any = (_, _) => ())
      : Derivation[A] = synchronized {
    new Derivation(name, deps, storage, warm, variant, build).tap(declared :+= _)
  }

  def all: Seq[Derivation[_]] = declared ++ includes.flatMap(_.all)

  /** Drops every value built for (session, dir) and unpersists its
    * persisted frames; no other key shares their cache entries
    * ([[Storage.Persisted]]). */
  def invalidate(s: SparkSession, dir: String): Unit =
    all.flatMap(_.drop(s, dir)).foreach(_.unpersist())

  /** Every persisted frame built for (session, dir). */
  def cachedFrames(s: SparkSession, dir: String): Seq[DataFrame] =
    all.flatMap(_.persistedFrames(s, dir))

  /** Keys held for a session across every dir and declaration. */
  def keyCount(s: SparkSession): Int = all.map(_.keyCount(s)).sum

  /** The warmup plan: one task per `Own` declaration or `PartOf` name, in
    * report order, each waiting for the tasks whose derivations its own
    * read. */
  def tasks: Seq[Derivations.Task] = {
    val decls = all
    def taskOf(d: Derivation[_]): Option[String] = d.warm match {
      case Warm.Own => Some(d.name)
      case Warm.PartOf(t) => Some(t)
      case Warm.Inner => decls.filter(_.deps.contains(d)).flatMap(taskOf).headOption
    }
    val owner = decls.map(d => d -> taskOf(d)).toMap
    val names = decls.flatMap(owner).distinct
    def members(t: String) = decls.filter(owner(_).contains(t))
    val after = names.map { t =>
      t -> members(t).flatMap(_.deps).flatMap(owner).distinct.filterNot(_ == t)
    }.toMap
    // report order: depth first, each task followed by the tasks that wait
    // for it, roots in declaration order
    val order = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(t: String): Unit =
      if (!order(t) && after(t).forall(order)) {
        order += t
        names.filter(after(_).contains(t)).foreach(visit)
      }
    names.foreach(visit)
    order.toSeq.map(t => Derivations.Task(t, after(t),
      members(t).filter(_.warm != Warm.Inner)))
  }
}

object Derivations {
  /** One warmup task: it waits for the tasks named in `after`, then
    * materializes `parts`. */
  final case class Task(name: String, after: Seq[String], parts: Seq[Derivation[_]])
}
