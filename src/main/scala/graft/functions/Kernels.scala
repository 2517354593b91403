package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The session function registry entries of the codegen'd kernels. */
object Kernels {

  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { args =>
      require(args.length == n, s"$name takes $n arguments, got ${args.length}")
      build(args)
    }

  private val builders = Seq(
    arity(ArrayDot.Name, 2)(a => ArrayDot(a(0), a(1))),
    arity(EditDistance.Name, 2)(a => EditDistance(a(0), a(1))),
    arity(ExactSum6.Name, 1)(a => ExactSum6(a(0))),
    arity(Md5Prefix.Name, 3)(a => Md5Prefix(a(0), a(1), a(2))))

  /** Registers every kernel on the session's function registry
    * (idempotent; temp functions, so they never leak into a catalog).
    * The registry route keeps callers on the public Column surface —
    * `call_function` resolves the name at analysis, and SQL strings can
    * name the kernel — instead of the `private[sql]` Column↔Expression
    * converters. `Tables.t`, the seam every operator reads through,
    * calls it on the session that will own the plans, so a kernel
    * never depends on which session is thread-active.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val fr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for ((name, build) <- builders if !fr.functionExists(FunctionIdentifier(name)))
      fr.createOrReplaceTempFunction(name, build, "built-in")
  }
}
