package graft.core

import org.apache.spark.sql.Dataset

/** The one owner of every frame the engine caches.
  *
  * Query builders cache a frame only through [[pin]] (eager) or
  * [[cache]] (lazy); both record it here, and [[release]] unpersists
  * everything recorded since the last release. The query runner
  * (`SparkEntry.run`) releases in a `finally` after each query, so a
  * query leaves no cached state behind whether it succeeds or fails,
  * and a query's cost does not depend on which queries ran before it.
  * Reuse across queries goes through the keyed, persisted
  * `ArtifactStore`/`IndexStore` instead.
  *
  * Caches that the creating method itself unpersists (iteration-local
  * state) do not need the scope.
  */
object CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Cache lazily and record the frame for [[release]]. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.cache()
    synchronized { frames += c }
    c
  }

  /** Cache, record and materialize with an eager count: for a frame
    * that feeds both sides of a self-join or several consumers, since
    * two concurrent stage scans race an unmaterialized cache and both
    * recompute. Recorded before the count, so a failing count is
    * still released.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val c = cache(ds)
    c.count()
    c
  }

  /** Number of frames recorded and not yet released. */
  def size: Int = synchronized { frames.size }

  /** Unpersist every recorded frame. Safe at any point: a consumer of
    * a released frame recomputes it from its inputs.
    */
  def release(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = false))
    frames.clear()
  }

  /** Run `body`, then [[release]], on success and on failure. */
  def scoped[A](body: => A): A =
    try body finally release()
}
