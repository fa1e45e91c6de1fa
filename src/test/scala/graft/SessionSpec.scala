package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize
import graft.sources.Tables

class SessionSpec extends AnyFunSuite {

  test("conf: local[cpus], shuffle partitions = cpus, UTC, nanos as long, UI off") {
    val c = Session.conf(3)
    assert(c("spark.master") == "local[3]")
    assert(c("spark.sql.shuffle.partitions") == "3")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c(Tables.NanosFlag) == "true")
    assert(c("spark.ui.enabled") == "false")
    assert(!c.contains("spark.sql.extensions"))
  }

  test("extra conf adds to the shared conf and overrides nothing else") {
    val c = Session.conf(4, Map(Materialize.Key -> "none"))
    assert(c(Materialize.Key) == "none")
    assert(c - Materialize.Key == Session.conf(4))
  }

  test("cpus honours SPARK_GRAFT_CPUS, else the host's available processors") {
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Session.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
  }
}
