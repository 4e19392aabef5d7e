package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{Decimal, DoubleType}

import graft.functions.{JaroWinklerExpr, JaroWinklerGate, MinHashBandsExpr, SimHashSigExpr}

/** SQL surface of the graft kernels, registered the standard Spark way:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * injects every kernel as a native SQL function at session build time
  * (cluster-wide, works for pure-SQL users with no Scala imports), and
  * [[GraftFunctions.register]] does the same on an already-running
  * session (spark-shell, notebooks, tests). Both paths share one
  * function table, so the SQL names and the Column API are guaranteed
  * to resolve to the SAME Catalyst expressions — these are codegen'd
  * native expressions, not UDFs (SURVEY.md §2.9; the reference exposes
  * its similarity kernels to SQL through DB functions,
  * src/db/schema.sql — this is the Spark-native analog).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    GraftFunctions.tableDescriptions.foreach(ext.injectTableFunction)
  }
}

object GraftFunctions {

  type Description =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  type TableDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)

  /** Register every graft SQL function on a live session (idempotent:
    * re-registration replaces the previous binding). */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    tableDescriptions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
  }

  // --- constant-argument extraction -------------------------------
  // Config arguments (k, bands, cutoff, ...) parameterize codegen and
  // must be plan-time constants; `foldable` + eval accepts any
  // constant-folded expression (e.g. `8 * 2`), not just bare literals.
  private def constVal(e: Expression, what: String): Any = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$what must be a constant (foldable) expression, got: $e")
    e.eval(InternalRow.empty)
  }

  private def intArg(e: Expression, what: String): Int = constVal(e, what) match {
    case i: Int   => i
    case l: Long  =>
      if (l < Int.MinValue || l > Int.MaxValue)
        throw new IllegalArgumentException(s"$what out of int range: $l")
      l.toInt
    case s: Short => s.toInt
    case b: Byte  => b.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer, got: $other")
  }

  private def longArg(e: Expression, what: String): Long = constVal(e, what) match {
    case l: Long  => l
    case i: Int   => i.toLong
    case s: Short => s.toLong
    case b: Byte  => b.toLong
    case other => throw new IllegalArgumentException(s"$what must be an integer, got: $other")
  }

  // SQL fractional literals parse as DecimalType under ANSI defaults
  private def doubleArg(e: Expression, what: String): Double = constVal(e, what) match {
    case d: Double  => d
    case f: Float   => f.toDouble
    case d: Decimal => d.toDouble
    case i: Int     => i.toDouble
    case l: Long    => l.toDouble
    case other => throw new IllegalArgumentException(s"$what must be numeric, got: $other")
  }

  // --- raw-Catalyst combinator builders ----------------------------
  // The Column combinators (Similarity.cosine, TextOps.normText) can't
  // be reused verbatim here: a Column wrapped back into an Expression
  // is an opaque ColumnNodeExpression the analyzer won't resolve inside
  // a function builder. These mirror them node-for-node as Catalyst
  // trees; ExtensionsSpec pins value-identity against the Column
  // originals through codegen.
  private var lambdaId = 0
  private def lamVar(prefix: String): UnresolvedNamedLambdaVariable = synchronized {
    lambdaId += 1
    UnresolvedNamedLambdaVariable(Seq(s"${prefix}_g$lambdaId"))
  }
  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = lamVar("x"); LambdaFunction(f(x), Seq(x))
  }
  private def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val x = lamVar("x"); val y = lamVar("y"); LambdaFunction(f(x, y), Seq(x, y))
  }
  private def asDoubleArr(e: Expression): Expression =
    ArrayTransform(e, lam1(Cast(_, DoubleType)))
  private def sumAgg(arr: Expression, term: Expression => Expression): Expression =
    ArrayAggregate(arr, Literal(0.0), lam2((acc, v) => Add(acc, term(v))), lam1(identity))

  /** Catalyst twin of [[graft.ops.Similarity.cosine]] over double-cast
    * arrays (zero vectors → 0.0, no ANSI divide-by-zero). */
  private def cosineExpr(a0: Expression, b0: Expression): Expression = {
    val a = asDoubleArr(a0)
    val b = asDoubleArr(b0)
    val dot = sumAgg(ZipWith(a, b, lam2(Multiply(_, _))), identity)
    val na  = sumAgg(a, v => Multiply(v, v))
    val nb  = sumAgg(b, v => Multiply(v, v))
    CaseWhen(
      Seq((And(GreaterThan(na, Literal(0.0)), GreaterThan(nb, Literal(0.0))),
        Divide(dot, Multiply(Sqrt(na), Sqrt(nb))))),
      Some(Literal(0.0)))
  }

  /** Catalyst twin of [[graft.text.TextOps.normText]]. */
  private def normTextExpr(c: Expression): Expression =
    StringTrim(
      RegExpReplace(
        RegExpReplace(Lower(c), Literal("[^a-z0-9]+"), Literal(" ")),
        Literal(" +"), Literal(" ")))

  private def arity(args: Seq[Expression], name: String, allowed: Int*): Unit =
    if (!allowed.contains(args.length))
      throw new IllegalArgumentException(
        s"$name takes ${allowed.mkString(" or ")} arguments, got ${args.length}")

  private def desc(name: String, usage: String)(
      builder: Seq[Expression] => Expression): Description =
    (
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      builder
    )

  /** The full SQL function table (names are graft_-prefixed to stay out
    * of the built-in namespace). */
  val descriptions: Seq[Description] = Seq(
    desc(
      "graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity of two strings (Winkler 1990 greedy matching, bit-parallel kernel)."
    ) { args =>
      arity(args, "graft_jaro_winkler", 2)
      JaroWinklerExpr(args(0), args(1))
    },
    desc(
      "graft_jaro_winkler_ge",
      "graft_jaro_winkler_ge(a, b, cutoff) - exact Jaro-Winkler when >= cutoff, else 0.0 (early-abort kernel; cutoff is a constant)."
    ) { args =>
      arity(args, "graft_jaro_winkler_ge", 3)
      JaroWinklerGate(args(0), args(1), doubleArg(args(2), "graft_jaro_winkler_ge cutoff"))
    },
    desc(
      "graft_simhash64",
      "graft_simhash64(text) - 64-bit SimHash of space-tokenized text; NULL when the text has no tokens."
    ) { args =>
      arity(args, "graft_simhash64", 1)
      SimHashSigExpr(args(0))
    },
    desc(
      "graft_minhash_band_keys",
      "graft_minhash_band_keys(text, shingleN, k, nBands[, seed]) - LSH band keys (array<bigint>, length nBands; empty for empty text) of the k-permutation MinHash over character shingleN-grams. Config arguments are constants."
    ) { args =>
      arity(args, "graft_minhash_band_keys", 4, 5)
      val seed = if (args.length == 5) longArg(args(4), "graft_minhash_band_keys seed") else 42L
      MinHashBandsExpr(
        args(0),
        intArg(args(1), "graft_minhash_band_keys shingleN"),
        intArg(args(2), "graft_minhash_band_keys k"),
        intArg(args(3), "graft_minhash_band_keys nBands"),
        seed
      )
    },
    desc(
      "graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two numeric arrays (index-ordered fold; 0.0 for zero vectors)."
    ) { args =>
      arity(args, "graft_cosine", 2)
      // element-wise cast to double first: float inputs get the same
      // IEEE accumulation the DataFrame paths use (Similarity.asDouble)
      cosineExpr(args(0), args(1))
    },
    desc(
      "graft_norm_text",
      "graft_norm_text(text) - pipeline text normalization: lowercase, non-alphanumerics to spaces, collapsed whitespace, trimmed."
    ) { args =>
      arity(args, "graft_norm_text", 1)
      normTextExpr(args(0))
    }
  )

  private def stringArg(e: Expression, what: String): String = constVal(e, what) match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String => s
    case other => throw new IllegalArgumentException(s"$what must be a string, got: $other")
  }

  /** The SQL TABLE-function surface (`injectTableFunction`):
    *
    *   SELECT * FROM graft_snapshot('/path/to/table')           -- latest
    *   SELECT * FROM graft_snapshot('/path/to/table', 3)        -- time travel
    *   SELECT * FROM graft_snapshot('/path/to/table', 'v1-tag') -- by tag
    *
    * resolves at ANALYSIS time to the snapshot's parquet scan plan, so
    * everything downstream is ordinary Catalyst — filters on partition
    * columns prune directories, column pruning reaches the scan, joins
    * broadcast. This is the pure-SQL face of [[graft.sources.SnapshotTable]]
    * time travel (Iceberg's `VERSION AS OF`, which plain parquet SQL has
    * no syntax for; reference analog: versioned model tables,
    * src/db/schema.sql). */
  val tableDescriptions: Seq[TableDescription] = Seq(
    (
      new FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(
        classOf[GraftExtensions].getName, null, "graft_snapshot",
        "graft_snapshot(root[, version | tag]) - reads a graft snapshot table: latest snapshot, a pinned version (int), or a named tag (string).",
        ""),
      (args: Seq[Expression]) => {
        arity(args, "graft_snapshot", 1, 2)
        val root = stringArg(args(0), "graft_snapshot root")
        val spark = SparkSession.active
        // the analyzed child plan of the snapshot read: a resolved
        // parquet relation (+ the manifest's column order) spliced in
        // place of the function call — the analyzer leaves resolved
        // subtrees alone and resolves the rest of the query around it
        val df =
          if (args.length == 1) graft.sources.SnapshotTable.read(spark, root)
          else constVal(args(1), "graft_snapshot version") match {
            case s: org.apache.spark.unsafe.types.UTF8String =>
              graft.sources.SnapshotTable.readTag(spark, root, s.toString)
            case _ =>
              graft.sources.SnapshotTable.readAsOf(
                spark, root, intArg(args(1), "graft_snapshot version"))
          }
        df.queryExecution.analyzed
      }
    )
  )
}
