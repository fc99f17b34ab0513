package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NativeExpressions

/** VERDICT r17 #4: the three native expressions that replaced interpreted
  * HOF chains in round 17 (shingle strings, hashed-BoW buckets, hashed-BoW
  * histogram) were equivalence-argued but not directly property-tested —
  * the oracle only covers the committed corpus. Each test here asserts the
  * native expression equals its former HOF chain VERBATIM (the exact
  * pre-r17 column code, recovered from git history) on the adversarial
  * fixture: consecutive spaces (empty words), empty string, short docs,
  * exact-k docs, unicode/multibyte, leading/trailing spaces.
  * Order matters everywhere, so rows are compared as sequences, not sets. */
class NativeHofEquivalenceSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  // empty string / empty words from consecutive+leading+trailing spaces /
  // below-k, exact-k, above-k word counts / multibyte UTF-8 / repeats
  // (exercises the distinct=first-occurrence path)
  private lazy val fixture = Seq(
    (1L, "The quick Brown fox jumps over"),
    (2L, "ab"), (3L, ""), (4L, "x  y z"), (5L, "a b c"),
    (6L, "naïve café über straße one two three"),
    (7L, " leading and  trailing "), (8L, "a a a a a b a a"),
    (9L, "солнце 光 a  b"), (10L, "   ")
  ).toDF("doc_id", "text")

  test("shingle_spans_native == split/transform/slice/array_join HOF chain") {
    for (k <- Seq(2, 3, 5); dist <- Seq(true, false)) {
      val w = split(lower(col("text")), " ")
      val hofChain = transform(
        sequence(lit(0), greatest(size(w) - k, lit(0))),
        i => array_join(slice(w, i + 1, lit(k)), " "))
      val hofCol = if (dist) array_distinct(hofChain) else hofChain
      val rows = fixture
        .select(col("doc_id"), hofCol.as("hof"),
          NativeExpressions.shingleSpansNative(col("text"), k, dist).as("nat"))
        .orderBy("doc_id")
        .as[(Long, Seq[String], Seq[String])].collect()
      rows.foreach { case (id, hof, nat) =>
        assert(nat == hof, s"doc $id k=$k distinct=$dist: $nat != $hof")
      }
    }
  }

  test("hashed_bow_native == sequence/filter-count histogram HOF chain") {
    for (d <- Seq(7, 32)) {
      val bks = transform(split(lower(col("text")), " "),
        w => pmod(graft.operators.Dedup.md5Hash60(w), lit(d.toLong)).cast("int"))
      val hofCol = transform(sequence(lit(0), lit(d - 1)),
        b => size(filter(bks, x => x === b)).cast("double"))
      val rows = fixture
        .select(col("doc_id"), hofCol.as("hof"),
          NativeExpressions.hashedBowNative(col("text"), d).as("nat"))
        .orderBy("doc_id")
        .as[(Long, Seq[Double], Seq[Double])].collect()
      rows.foreach { case (id, hof, nat) =>
        assert(nat == hof, s"doc $id d=$d: $nat != $hof")
      }
    }
  }
}
