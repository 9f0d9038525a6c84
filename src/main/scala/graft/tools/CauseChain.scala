package graft.tools

/** `Class: message` of a throwable and each of its causes, one line, for
  * the per-query failure lines Bench, BenchSlice and Verify print to
  * stderr: the root cause of a Spark failure is usually several
  * wrappers deep, and the top-level message alone rarely names it. */
object CauseChain {
  def apply(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
      .map(x => s"${x.getClass.getName}: ${Option(x.getMessage).getOrElse("")}")
      .mkString(" <- caused by ")
}
