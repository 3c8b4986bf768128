package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Unordered-pair generator for the inverted-index candidate stage:
  * `graft_pairs(arr)` emits one row per 2-combination of `arr`'s struct
  * elements, ordered so `a`'s first field < `b`'s first field — i.e.
  * exactly the rows `explode(arr) a × explode(arr) b WHERE a.key < b.key`
  * produces, but generating k(k-1)/2 rows per group instead of k² rows
  * plus a half-discarding filter. On the dedup family's shingle groups
  * (DF-capped at 100 elements) that halves the widest intermediate of the
  * whole pipeline. The first struct field must be LongType (the ordering
  * key); equal-key pairs are skipped, exactly as the strict `<` drops
  * them (can't occur on per-doc-distinct postings, but the generator
  * stays faithful for any input).
  *
  * Interpreted-eval generator (GenerateExec codegens only the built-in
  * explode family) — but the per-GROUP eval is one tight Scala loop over
  * an already-materialized array, not a per-element lambda, so the
  * interpreted boundary costs one virtual call per group.
  */
case class PairCombinations(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private def elemType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.nonEmpty && st.head.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_pairs needs array<struct<key: bigint, ...>>, got ${other.catalogString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", elemType, nullable = false),
    StructField("b", elemType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Iterator.empty
    val arr = data.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val fields = elemType.length
    // copy out of the (possibly buffer-backed) array once, sort by key
    val items = Array.tabulate[InternalRow](n)(i => arr.getStruct(i, fields).copy())
    java.util.Arrays.sort(items, (x: InternalRow, y: InternalRow) =>
      java.lang.Long.compare(x.getLong(0), y.getLong(0)))
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 0
      advance()
      private def advance(): Unit = {
        j += 1
        while (i < n - 1) {
          if (j >= n) { i += 1; j = i + 1 }
          else if (items(j).getLong(0) == items(i).getLong(0)) j += 1
          else return
        }
      }
      override def hasNext: Boolean = i < n - 1 && j < n
      override def next(): InternalRow = {
        val row = InternalRow(items(i), items(j))
        advance()
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PairCombinations {
  val name = "graft_pairs"
}
