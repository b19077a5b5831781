package graft.util

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Observation, Row}

/** The one way to read an observed metric (`Dataset.observe`): snapshot row
  * counts, Canon's convergence sum and the HITS normalizers all come from
  * here. The metrics row is delivered asynchronously, shortly after the
  * observed action returns, so the read blocks on `Observation.future`.
  */
object Observed {

  // bounded on purpose: a metric that never arrives must fail the stage,
  // not hang the build or commit a guessed count
  private val Timeout = 60.seconds

  def await(obs: Observation): Row =
    try Await.result(obs.future, Timeout)
    catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"observed metrics '${obs.name}' did not arrive within $Timeout", e)
    }
}
