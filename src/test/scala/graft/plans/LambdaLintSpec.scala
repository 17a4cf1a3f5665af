package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.{ExprId, Expression, LambdaFunction, NamedLambdaVariable}

import graft.{SparkEntry, SparkTestSession}

/** Plan lint against superlinear per-row plans: a higher-order function
  * evaluates its lambda body once per array element, so any array or
  * string expression captured in the body that does not depend on a
  * lambda variable is recomputed for every element — O(n²) per row when
  * it is itself O(n) (the inlined `lws` of the old dup-span gram lambda).
  * Such a subtree belongs in a projected column. Every query of the
  * driver contract is linted on its analyzed plan; there is no allowlist. */
class LambdaLintSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  // the sf0.01 tables vendored with the benchmark (paths relative to the
  // build root, the forked test JVM's working directory)
  private val dir = "perfbench/data/sf0.01"

  /** Lambda variables referenced by `e` but not bound inside it. */
  private def freeVars(e: Expression): Seq[ExprId] = e match {
    case v: NamedLambdaVariable => Seq(v.exprId)
    case l: LambdaFunction =>
      freeVars(l.function).filterNot(l.arguments.map(_.exprId).contains)
    case _ => e.children.flatMap(freeVars)
  }

  /** The maximal subtrees of a lambda body that are not leaves, not
    * foldable and reference no lambda variable. A nested lambda is linted
    * on its own. */
  private def invariant(body: Expression): Seq[Expression] = body match {
    case _: LambdaFunction => Nil
    case e if e.children.isEmpty || e.foldable => Nil
    case e if freeVars(e).isEmpty => Seq(e)
    case e => e.children.flatMap(invariant)
  }

  /** Lambda-invariant subtrees anywhere in the analyzed plan, subqueries
    * included. */
  private def lint(df: DataFrame): Seq[String] = {
    val found = Seq.newBuilder[String]
    df.queryExecution.analyzed.foreachWithSubqueries { node =>
      node.expressions.foreach(_.foreach {
        case l: LambdaFunction => found ++= invariant(l.function).map(_.sql)
        case _ =>
      })
    }
    found.result().distinct
  }

  test("the lint flags an array expression captured in a gram lambda") {
    import spark.implicits._
    val df = Seq("a B c d").toDF("text")
      .select(F.split(F.col("text"), " ").as("ws"))
    val lws = F.transform(F.col("ws"), x => F.lower(x))
    val inlined = df.select(F.transform(F.sequence(F.lit(0), F.size(F.col("ws")) - 2),
      i => F.array_join(F.slice(lws, i + 1, F.lit(2)), " ")))
    assert(lint(inlined).exists(_.contains("transform")), lint(inlined))
    // the native kernel over a projected column: nothing captured
    val hoisted = df.select(GraftFunctions.wordGrams(lws, 2))
    assert(lint(hoisted).isEmpty, lint(hoisted))
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
    test(s"no lambda-invariant subtree in $q") {
      val found = lint(SparkEntry.queries(q)(spark, dir))
      assert(found.isEmpty, s"$q captures lambda-invariant work:\n" + found.mkString("\n"))
    }
  }
}
