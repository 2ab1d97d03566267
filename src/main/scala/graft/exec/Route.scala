package graft.exec

import scala.util.DynamicVariable
import org.apache.spark.sql.DataFrame

/** Where small work runs: on the driver within a measured bound, or on the
  * Spark plan for a named reason. */
sealed trait Route
object Route {
  /** On the driver, within `bound`: the stored rows a QUERY statement's
    * leaves or a serving lookup span, or the bytes of a TSV batch
    * (TsvLoader). */
  final case class Seek(bound: Long) extends Route
  final case class Spark(reason: String) extends Route

  private val pin = new DynamicVariable[Option[String]](None)
  private val seen = new DynamicVariable[Option[collection.mutable.Buffer[Route]]](None)

  /** Run `body` with every stored serving lookup on its Spark plan, for
    * `reason` — how the plan audits keep seeing the scans a lookup plans
    * when it is over its bound. */
  def onSpark[A](reason: String)(body: => A): A = pin.withValue(Some(reason))(body)

  /** `body`'s value with the routes its serving lookups took, in order. */
  def observed[A](body: => A): (A, Seq[Route]) = {
    val routes = collection.mutable.Buffer.empty[Route]
    val a = seen.withValue(Some(routes))(body)
    (a, routes.toSeq)
  }

  /** One serving lookup's frame: `local(p)` when `plan` bounds the lookup
    * on the driver (a local frame whose collect runs no job), else the
    * `spark` frame, with the inner lookups it builds pinned to their Spark
    * plans. The route taken is reported to `observed`; the inner lookups'
    * routes are not. */
  private[graft] def serve[P](plan: => Either[String, (Long, P)])(local: P => DataFrame)(
      spark: => DataFrame): DataFrame = {
    val chosen = pin.value.toLeft(()).flatMap(_ => plan)
    seen.value.foreach(_ += chosen.fold(Spark(_), p => Seek(p._1)))
    chosen.fold(reason => seen.withValue(None)(onSpark(reason)(spark)), p => local(p._2))
  }
}
