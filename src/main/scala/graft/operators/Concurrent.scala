package graft.operators

/** Independent Spark queries run side by side: a driver that submits
  * them one after another pays each one's planning and scheduling in
  * series, while the cluster could run them together. */
object Concurrent {

  /** Run `tasks` concurrently, one pool thread each, and return their
    * results in order. Every task runs to its end before this returns
    * or throws: the first failure is rethrown (later ones attached as
    * suppressed) only once all have finished, so nothing is still
    * writing or reading when the caller releases a lock or a pin. Pool
    * threads are created here, so they inherit the caller's Spark local
    * properties (job group, description). */
  def allOf[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      }))
      val results = futures.map(f => scala.util.Try(f.get()).recoverWith {
        case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause)
      })
      val errors = results.collect { case scala.util.Failure(e) => e }
      errors.headOption.foreach { first =>
        errors.tail.foreach(first.addSuppressed)
        throw first
      }
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** [[allOf]] for two tasks of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = allOf[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
