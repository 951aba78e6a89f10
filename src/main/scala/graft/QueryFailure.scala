package graft

/** Why a registered query failed, as Bench prints it and Verify records it
  * in `failures.json`: the thrown exception and the root of its cause chain
  * (Spark wraps a kernel's exception in several SparkException layers, so
  * the top message alone rarely names the fault). */
final case class QueryFailure(query: String, exception: String, message: String,
    rootCause: String) {
  def line: String = s"$query failed: $exception: $message (root cause: $rootCause)"
}

object QueryFailure {
  def apply(query: String, e: Throwable): QueryFailure = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    QueryFailure(query, e.getClass.getName, String.valueOf(e.getMessage),
      s"${root.getClass.getName}: ${root.getMessage}")
  }
}
