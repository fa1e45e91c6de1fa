package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.{CostGuard, TestSpark}

/** Planted-collision tests for the pre-upload validation report (the
  * reference's README.md:73-74 roadmap item): required-field classes
  * mirror `app.py:247`'s drop filter, duplicate ruts are flagged on
  * EVERY copy, and derived-username collisions get the deterministic
  * numeric-suffix fix while non-colliding rows keep the bare username.
  */
class RosterValidateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def roster(rows: (String, String, String, String)*) =
    rows.toDF("rut", "nombres", "apellidos", "email")

  private def byEmail(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getAs[String]("email") -> r).toMap

  test("two distinct people colliding on the derived username get suffixes") {
    // Both derive username 'joseperezgo' (MoodleNormalize F4); the
    // reference would emit a CSV Moodle rejects. Rank order inside the
    // group is (trim(rut), email): 1-1 < 2-2.
    val out = byEmail(RosterValidate(roster(
      ("1-1", "José Luis", "Pérez González", "jl@x.cl"),
      ("2-2", "José Andrés", "Pérez Gómez", "ja@x.cl"),
      ("3-3", "Ana", "Muñoz", "am@x.cl"))).collect())
    val jl = out("jl@x.cl"); val ja = out("ja@x.cl"); val ana = out("am@x.cl")
    assert(jl.getAs[String]("username") == "joseperezgo")
    assert(ja.getAs[String]("username") == "joseperezgo")
    assert(jl.getAs[Long]("username_collision") == 1L)
    assert(ja.getAs[Long]("username_collision") == 1L)
    assert(jl.getAs[String]("username_final") == "joseperezgo")
    assert(ja.getAs[String]("username_final") == "joseperezgo2")
    assert(jl.getAs[Long]("ok") == 0L && ja.getAs[Long]("ok") == 0L)
    // the non-colliding row is untouched and importable
    assert(ana.getAs[String]("username_final") == "anamunoz")
    assert(ana.getAs[Long]("ok") == 1L)
  }

  test("duplicate rut flags every copy; a third suffix stays deterministic") {
    val out = RosterValidate(roster(
      ("7-7", "Ana", "Soto", "a1@x.cl"),
      ("7-7", "Ana", "Soto", "a2@x.cl"),
      ("8-8", "Ana", "Soto", "a3@x.cl"))).collect()
    assert(out.forall(_.getAs[Long]("username_collision") == 1L))
    val m = byEmail(out)
    assert(m("a1@x.cl").getAs[Long]("duplicate_rut") == 1L)
    assert(m("a2@x.cl").getAs[Long]("duplicate_rut") == 1L)
    assert(m("a3@x.cl").getAs[Long]("duplicate_rut") == 0L)
    // suffix rank orders by (rut, email): 7-7/a1, 7-7/a2, 8-8/a3
    assert(m("a1@x.cl").getAs[String]("username_final") == "anasoto")
    assert(m("a2@x.cl").getAs[String]("username_final") == "anasoto2")
    assert(m("a3@x.cl").getAs[String]("username_final") == "anasoto3")
    assert(out.forall(_.getAs[Long]("ok") == 0L))
  }

  test("missing required fields leave the candidate set (app.py:247)") {
    val out = byEmail(RosterValidate(roster(
      (null, "Ana", "Soto", "null-rut@x.cl"),
      ("9-9", null, "Soto", "null-nombres@x.cl"),
      ("9-9", "Eva", "Soto", "valid@x.cl"))).collect())
    val nr = out("null-rut@x.cl"); val nn = out("null-nombres@x.cl")
    assert(nr.getAs[Long]("missing_required") == 1L)
    assert(nn.getAs[Long]("missing_required") == 1L)
    // invalid rows derive no username and never enter the windows
    assert(nr.getAs[String]("username") == null)
    assert(nr.getAs[String]("username_final") == null)
    // the valid 9-9 row is NOT a duplicate: the null-nombres 9-9 row
    // was dropped from the candidate set before the rut check
    val ok = out("valid@x.cl")
    assert(ok.getAs[Long]("duplicate_rut") == 0L)
    assert(ok.getAs[Long]("missing_required") == 0L)
    assert(ok.getAs[Long]("ok") == 1L)
  }

  test("two shuffle exchanges: one on rut_t, one on uname shared by both uname windows") {
    val plan = RosterValidate(roster(
      ("1-1", "Ana", "Soto", "a@x.cl"), ("2-2", "Eva", "Rojas", "e@x.cl")))
    val keys = CostGuard.shuffles(plan).map(_.outputPartitioning).map {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name))
      case other => fail(s"expected a hash exchange, got $other")
    }
    assert(keys.sortBy(_.mkString) == Seq(Seq("rut_t"), Seq("uname")), plan.queryExecution.executedPlan)
  }
}
