package graft.core

/** Error taxonomy mirroring the reference semantics
  * (reference: alphastats/exceptions.py:1-41).
  */
sealed abstract class GraftError(msg: String) extends RuntimeException(msg)

/** More than one Date/Timestamp column in a returns frame
  * (reference: alphastats/exceptions.py:8-13).
  */
final case class MultipleTemporalColumnsError(columnNames: Seq[String])
    extends GraftError(
      s"Must have exactly one temporal column. Found ${columnNames.mkString("[", ", ", "]")}")

/** Benchmark frame with more than one numeric column
  * (reference: alphastats/exceptions.py:16-24).
  */
final case class AmbiguousBenchmarkReturnsError(columnNames: Seq[String])
    extends GraftError(
      s"Ambiguous benchmark returns columns ${columnNames.mkString("[", ", ", "]")}. " +
        "Provide a dataframe with a single benchmark returns column.")

/** A metric that needs a time axis was given a frame without one
  * (reference: alphastats/exceptions.py:27-34).
  */
final case class NoTemporalColumnError()
    extends GraftError("This function requires a temporal column.")

/** Benchmark frame with no numeric column
  * (reference: alphastats/exceptions.py:37-41).
  */
final case class NoReturnColumnError()
    extends GraftError("No return column found in benchmark frame.")

/** A report over zero rows: the returns frame is empty or, with a
  * benchmark, shares no rows with it after the date match. (No reference
  * counterpart: the reference fails later, inside a metric.)
  */
final case class EmptyReturnsError(withBenchmark: Boolean)
    extends GraftError(
      if (withBenchmark) "The returns frame, or its overlap with the benchmark, is empty."
      else "The returns frame is empty.")
