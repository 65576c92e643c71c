package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's native expressions on an EXISTING session (the
  * extensions route, [[graft.GraftExtensions]], only applies at session
  * construction). Hosted under org.apache.spark.sql for sessionState
  * access. */
object GraftFunctions {

  /** A native expression under its SQL name. */
  final case class SqlFunction(name: String, clazz: Class[_ <: Expression],
                               builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(clazz.getName, name)
  }

  /** The SQL functions both registration routes install. */
  val all: Seq[SqlFunction] = Seq(
    SqlFunction("cosine_similarity", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    SqlFunction("chunk_windows", classOf[ChunkWindows],
      exprs => ChunkWindows(exprs(0), exprs(1), exprs(2))),
    SqlFunction("morton_interleave", classOf[MortonInterleave],
      exprs => MortonInterleave(exprs(0), exprs(1), exprs(2))),
    SqlFunction("sorted_intersect_count", classOf[SortedIntersectCount],
      exprs => SortedIntersectCount(exprs(0), exprs(1))))

  /** Make `cosine_similarity(a, b)`, `chunk_windows(text, size, ov)`,
    * `morton_interleave(x, y, bits)` and `sorted_intersect_count(a, b)`
    * available to SQL in this session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(f => registry.createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
  }
}
