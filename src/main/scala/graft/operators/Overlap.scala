package graft.operators

/** Run an independent Spark ACTION on a driver-side helper thread
  * (guide §2.6 "overlap independent jobs"): Spark's scheduler happily
  * runs several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. A leg whose
  * result is consumed late in a tick (e.g. the tombstoned ids' stored
  * band keys, needed only by the band store's applyTick) can run while
  * the candidate/verify pipeline's stage tails leave executors idle.
  *
  * The helper thread inherits the caller's job group / description
  * (SparkContext's local properties are an InheritableThreadLocal), so
  * UI attribution and group cancellation behave as if the action ran
  * inline. `await()` joins and RETHROWS the body's failure — the
  * fail-fast contract of the previously-inline action is preserved;
  * callers must await before any store mutation the leg's reads race.
  * Legs start only through [[scoped]], which joins every leg when the
  * scope exits, by a return or a throw, so none outlives the code that
  * started it.
  */
private[graft] object Overlap {

  final class Started[T] private[Overlap] (
      t: Thread,
      ref: java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]) {
    def await(): T = {
      t.join()
      ref.get() match {
        case Right(v) => v
        case Left(e)  => throw e
        case null     => throw new IllegalStateException(
          s"overlap thread ${t.getName} died without recording a result")
      }
    }
  }

  private def start[T](name: String)(body: => T): Started[T] = {
    val ref = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]()
    val t = new Thread(
      () => ref.set(try Right(body) catch { case e: Throwable => Left(e) }),
      name)
    t.setDaemon(true)
    t.start()
    new Started(t, ref)
  }

  /** Run `body` with a [[Scope]] whose legs are ALL joined before
    * `scoped` returns or throws — a leg never outlives its caller,
    * even when the body fails before awaiting it. A body failure is
    * rethrown with every leg failure attached as suppressed; a body
    * that succeeds rethrows the first leg failure it did not await
    * (later ones suppressed on it).
    */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    val result =
      try body(scope)
      catch { case e: Throwable => scope.joinAll(Some(e)); throw e }
    scope.joinAll(None)
    result
  }

  final class Scope private[Overlap] {
    private val legs = scala.collection.mutable.ArrayBuffer.empty[Started[_]]

    def start[T](name: String)(body: => T): Started[T] = {
      val leg = Overlap.start(name)(body)
      legs.synchronized { legs += leg }
      leg
    }

    private[Overlap] def joinAll(primary: Option[Throwable]): Unit = {
      var first = primary
      legs.synchronized(legs.toList).foreach { leg =>
        try leg.await()
        catch {
          case e: Throwable => first match {
            case Some(p) => if (p ne e) p.addSuppressed(e)
            case None => first = Some(e)
          }
        }
      }
      if (primary.isEmpty) first.foreach(e => throw e)
    }
  }
}
