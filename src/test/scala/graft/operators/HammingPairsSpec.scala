package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The one banded Hamming pair join ([[Dedup.hammingPairs]] over
  * [[Dedup.sliceBands]]) is exact: on random 64-bit hashes with planted
  * copies at distances 0-4 it returns precisely the brute all-pairs
  * set within the radius. And it is the only Hamming verify: Spark's
  * `bit_count(` appears in one `src/main` file.
  */
class HammingPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 80 random bases, each with planted copies at 0, 1, 2, 3 and 4
    * flipped bits: ids base·10 + distance + 1.
    */
  private lazy val hashes: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(64L)
    (0 until 80).flatMap { i =>
      val base = rnd.nextLong()
      (i * 10L, base) +: (0 to 4).map { d =>
        val bits = rnd.shuffle((0 until 64).toList).take(d)
        (i * 10L + d + 1, bits.foldLeft(base)((h, b) => h ^ (1L << b)))
      }
    }
  }

  private def brute(h: Int): Set[(Long, Long, Int)] =
    (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= h
    } yield (a, b, d)).toSet

  for (h <- Seq(2, 3)) test(s"hammingPairs(sliceBands(...)) equals brute force at h = $h") {
    val got = Dedup.hammingPairs(Dedup.sliceBands(hashes.toDF("doc_id", "h64")), h)
      .as[(Long, Long, Int)].collect()
    assert(got.length == got.toSet.size)
    val want = brute(h)
    assert(want.exists(_._3 == h) && !want.exists(_._3 > h))
    assert(got.toSet == want)
  }

  test("Spark's bit_count( appears in one src/main file") {
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("bit_count("))
      .map(_.getFileName.toString)
    finally walk.close()
    assert(files == Seq("Dedup.scala"))
  }
}
