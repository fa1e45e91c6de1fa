package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded inputs of the `moodle_chain` workload. The same seed always
  * gives the same files and the same expected counts.
  *
  * Sizes: [[RosterRows]] distinct people plus a resubmitted-duplicate slice
  * of about 3 %, an old-dialect mail CSV of half that size and a
  * fallback-dialect mail CSV of a quarter. The roster covers accented
  * names, multi-email cells, cells without `@`, NULL ruts and NULL names.
  */
final case class Inputs(
    seed: Long,
    roster: Path, mailOld: Path, mailFallback: Path,
    sentLedger: Path, enrolments: Path, courses: Path,
    rosterRows: Int, missingRequired: Int, normalizedRows: Int,
    oldMails: Int, fallbackMails: Int, ledgerHits: Int) {

  /** Messages the mail source yields: the normalized roster (moodle
    * dialect, read back from the upload CSV) plus the non-blank rows of the
    * other two dialects.
    */
  def mails: Int = normalizedRows + oldMails + fallbackMails
}

object Inputs {
  val RosterRows = 3000
  /** Courses derived from the rut; the catalog lists one fewer, so the
    * planner's `unassigned` branch fires.
    */
  val Courses = 7

  private val Nombres = Array("José Luis", "María José", "Ángel", "Nicolás",
    "Begoña", "Íñigo", "Zoë Andrea", "Ana", "Luis Alberto", "Sofía")
  private val Apellidos = Array("Pérez González", "Muñoz", "Núñez Ibáñez",
    "Rodríguez Soto", "Álvarez Peña", "Soto", "Fernández", "Valdés Ruiz")

  def generate(spark: org.apache.spark.sql.SparkSession, seed: Long, dir: Path): Inputs = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val header = "Rut (con punto y con guión),Nombres ,Apellidos,Correo electrónico"
    val people = (0 until RosterRows).map { i =>
      val key = 1000000 + i * 13 + rnd.nextInt(13)
      val rut = if (rnd.nextInt(100) < 4) "" else s"$key-${key % 11 % 10}"
      val nombres = if (rnd.nextInt(100) < 3) "" else Nombres(rnd.nextInt(Nombres.length))
      val apellidos = Apellidos(rnd.nextInt(Apellidos.length))
      val base = s"p$key@example.org"
      val email = rnd.nextInt(100) match {
        case r if r < 8  => s"contacto@ejemplo.cl; $base"
        case r if r < 10 => "sin-correo"
        case _           => base
      }
      (rut, nombres, apellidos, email)
    }
    val resubmitted = people.filter(_ => rnd.nextInt(100) < 3)
    val rows = people ++ resubmitted
    val roster = dir.resolve("roster.csv")
    write(roster, Seq("Listado oficial de participantes,,,", "Generado por la unidad académica,,,",
      ",,,", header) ++ rows.map { case (r, n, a, e) => s"$r,$n,$a,$e" })
    val missing = rows.count { case (r, n, _, _) => r.isEmpty || n.isEmpty }

    val olds = (0 until RosterRows / 2).map { i =>
      val blank = rnd.nextInt(100) < 5
      val email = if (blank) "  " else s"  alumno$i@alumnos.example.org "
      (email, s"  Alumno Número $i  ", s"user$i", s" pw-$i ")
    }
    val mailOld = dir.resolve("mail_old.csv")
    write(mailOld, "email,nombre,usuario,contrasena" +:
      olds.map { case (e, n, u, c) => s"$e,$n,$u,$c" })

    val fbs = (0 until RosterRows / 4).map { i =>
      val blank = rnd.nextInt(100) < 5
      val email = if (blank) "" else s"externo$i@invitados.example.org"
      (email, if (rnd.nextBoolean()) "" else s"u$i")
    }
    val mailFallback = dir.resolve("mail_fallback.csv")
    write(mailFallback, "email,username" +: fbs.map { case (e, u) => s"$e,$u" })

    // Already-sent ledger: a tenth of the old and fallback addresses.
    val oldEmails = olds.map(_._1.trim).filter(_.nonEmpty)
    val fbEmails = fbs.map(_._1.trim).filter(_.nonEmpty)
    val sent = (oldEmails ++ fbEmails).filter(_ => rnd.nextInt(10) == 0)
    import spark.implicits._
    val sentLedger = dir.resolve("sent_ledger.parquet")
    sent.toDF("email").write.mode("overwrite").parquet(sentLedger.toString)
    val sentSet = sent.toSet
    val ledgerHits = (oldEmails ++ fbEmails).count(sentSet)

    // Already-enrolled ledger: a fifth of the valid ruts, in their course.
    val enrolled = people.collect { case (r, _, _, _) if r.nonEmpty && rnd.nextInt(5) == 0 =>
      val k = r.split("-")(0).toLong
      (k, k % Courses)
    }
    val enrolments = dir.resolve("enrolments.parquet")
    enrolled.toDF("custkey", "course_id").write.mode("overwrite").parquet(enrolments.toString)
    val courses = dir.resolve("courses.parquet")
    (0L until Courses - 1L).map(c => (c, s"Curso $c", 60L + 40L * (c % 3)))
      .toDF("course_id", "course", "capacity").write.mode("overwrite").parquet(courses.toString)

    Inputs(seed, roster, mailOld, mailFallback, sentLedger, enrolments, courses,
      rows.size, missing, rows.size - missing, oldEmails.size, fbEmails.size, ledgerHits)
  }

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
}
