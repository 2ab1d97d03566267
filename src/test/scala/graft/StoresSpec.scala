package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Sinks, Store, Stores}

/** The stream-maintained store registry: every store is one record, and
  * the shared one-shots derive each store's memo key and memory-sink name
  * from its record's name — two records sharing a name would silently
  * serve one store's memoized rows for the other. */
class StoresSpec extends AnyFunSuite {

  test("every store record's name is unique") {
    val dup = Stores.all.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }
    assert(dup.isEmpty, s"store names used twice: $dup")
    assert(Stores.all.map(Sinks.sinkName).distinct.size == Stores.all.size)
  }

  test("every store record is registered") {
    val declared = Stores.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        m.getReturnType == classOf[Store])
      .map(_.invoke(Stores).asInstanceOf[Store])
    assert(declared.nonEmpty)
    val missing = declared.filterNot(s => Stores.all.exists(_ eq s))
    assert(missing.isEmpty,
      s"records outside Stores.all: ${missing.map(_.name)}")
  }
}
