package graft.kdc

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded property runner: case `i` draws from `gen` with seed `i`, so a
  * failure names the seed that reproduces it. (Drives ScalaCheck `Gen`
  * directly — the scalatestplus bridge is not in the offline dependency
  * cache.) */
trait SeededForAll { this: AnyFunSuite =>

  def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => try f(a) catch {
          case e: Throwable =>
            fail(s"failed for seed=$i input=$a: ${e.getMessage}", e)
        })
    }
}
