package graft.layerbench

/** What a check found: the share of planted findings the op reported, and
  * every mismatch with what the generator planted (empty = correct). */
final case class Checked(recall: Double, errors: Seq[String])

/** The result of one timed op; `check` runs after the timer stops. */
final case class Outcome(rows: Long, check: () => Checked)

/** One benchmark workload. The constructor generates the seed's inputs and
  * `prepare` materializes them (both count in set-up). `op` is the timed unit: one
  * pass, or one ingest round. `layers` calls each of the workload's layer
  * entry points once in isolation, each in its own span, and returns the
  * counts and ratios that only the traced run reports. */
trait Workload {
  def sizes: String
  def prepare(): Unit
  /** Untimed client work before each op (landing the next batch). */
  def beforeOp(): Unit = ()
  def op(t: Tracing): Outcome
  def layers(t: Tracer): Map[String, Double]
  /** Bytes written per raw byte landed, over the ops run so far (0 when the
    * workload writes nothing). */
  def writeAmp: Double = 0.0
  def close(): Unit = ()
}
