package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ColumnFactory.{column, expression}
import org.apache.spark.sql.functions.udf

import graft.kernel._

/** Spark column functions wrapping the analiticcl-semantics kernel
  * (SURVEY.md §2.2 P1-P10). The per-row text functions are deterministic
  * scalar UDFs closing over a (tiny, immutable) alphabet — Catalyst
  * treats them as deterministic, so they are pushed/pruned normally. The
  * pair verify kernels ([[pairScoreMax]], [[pairAccept]]) are native
  * codegen expressions over the normKey/caseClass columns these UDFs
  * produce once per row.
  *
  * Where a pure-builtin equivalent exists (shingles, minhash, exact
  * hashes...) we use builtins instead — see [[TextFns]].
  */
final class Kernels(alphabet: Alphabet) extends Serializable {

  /** P1: normalized form as space-joined class indices (string form keeps
    * the column oracle-comparable; the dedup pipeline's internal hot path
    * passes norm arrays directly between kernel UDFs instead).
    */
  val normStr: Column => Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => alphabet.normalize(x).mkString(" "))
    }
    (c: Column) => f(c)
  }

  /** P2: anagram value as a decimal string (unbounded product of primes;
    * decimal-string form is oracle-comparable, the pipeline's internal
    * form is canonical bytes via [[graft.kernel.AnaHash.toBytes]]).
    */
  val anahashStr: Column => Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => alphabet.anahash(x).toString)
    }
    (c: Column) => f(c)
  }

  /** P1 (internal form): normalized text as a compact string — one char
    * per alphabet-class index ([[Alphabet.normKey]]: codepoint 33 + idx,
    * one char per class, so distinct forms give distinct keys). The dedup
    * pipeline shingles THIS, so shingle identity == normalized-class
    * n-gram identity, exactly the reference's alphabet semantics.
    */
  val normKey: Column => Column = {
    val f = udf((s: String) => Option(s).map(alphabet.normKey))
    (c: Column) => f(c)
  }

  /** P6: full Damerau-Levenshtein over normalized forms; -1 = exceeded
    * max. This is the dedup verification kernel: the banded
    * zero-allocation [[Distances.dlChars]] over the texts' [[normKey]]s
    * (DistancesPropSpec pins it to an unstripped full DP).
    */
  def damerau(a: Column, b: Column, maxDistance: Int): Column = {
    val f = udf { (x: String, y: String) =>
      if (x == null || y == null) -1
      else Distances.dlChars(alphabet.normKey(x), alphabet.normKey(y), maxDistance)
    }
    f(a, b)
  }

  /** First-char case class for the precomputed-kernel path:
    * 0 = lowercase, 1 = not lowercase, 2 = empty text (reference case
    * semantics: empty side => sameCase true, lib.rs:1367-1377).
    */
  val caseClass: Column => Column = {
    val f = udf((s: String) => Scoring.caseClass(s))
    (c: Column) => f(c)
  }

  /** The symmetric analiticcl verification score (weighted DL + LCS +
    * prefix + suffix + case, normalized by each side's length, max of the
    * two directions; reference: src/lib.rs:1429-1452) over PRECOMPUTED
    * [[normKey]] strings and [[caseClass]] bytes, as the native codegen
    * [[PairScoreMax]] expression: zero normalization work and zero
    * per-call allocation in the pair loop. Null when no DL is within
    * maxEditDistance or a side is null/empty.
    */
  def pairScoreMax(normA: Column, normB: Column, caseA: Column,
      caseB: Column, maxEditDistance: Int,
      weights: Weights = Weights()): Column =
    column(PairScoreMax(expression(normA), expression(normB),
      expression(caseA), expression(caseB), maxEditDistance,
      weights.ld, weights.lcs, weights.prefix, weights.suffix, weights.caseW))

  /** The dedup verify FILTER: exactly
    * `pairScoreMax(...) IS NOT NULL AND pairScoreMax(...) >= threshold`,
    * as the native decision expression [[PairAccept]], which skips the
    * exact-LCS DP whenever the score bounds already decide against the
    * threshold (most pairs; see [[KernelExprs.pairAccept]]).
    */
  def pairAccept(normA: Column, normB: Column, caseA: Column, caseB: Column,
      maxEditDistance: Int, threshold: Double,
      weights: Weights = Weights()): Column =
    column(PairAccept(expression(normA), expression(normB),
      expression(caseA), expression(caseB), maxEditDistance,
      weights.ld, weights.lcs, weights.prefix, weights.suffix, weights.caseW,
      threshold))
}

object Kernels {
  lazy val test = new Kernels(Alphabet.test)
  lazy val simpleLatin = new Kernels(Alphabet.simpleLatin)
}
