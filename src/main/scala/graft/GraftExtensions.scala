package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{DotProduct, MaxSimScore, MinHashSignature, ShingleMinHash}

/** SparkSessionExtensions entry point: exposes graft's custom Catalyst
  * expressions to SQL users, so a session built with
  *
  * {{{
  * SparkSession.builder
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * can run `SELECT dot_product(embedding, embedding) FROM ...` — the
  * same codegen'd expression the DataFrame API gets via
  * `VectorOps.dot` — and query manifest tables straight from SQL:
  * `SELECT * FROM graft_table('/path', 3)`, `graft_table_at(path,
  * epoch_ms)`, `graft_history(path)`, `graft_changes(path, since)`.
  * This is the sanctioned extension mechanism (no internal registry
  * poking); injectFunction/injectTableFunction handle resolution,
  * Scaladoc-style help, and session isolation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, null, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, null, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_signature(tokens_array, k)")
        MinHashSignature(children.head, intArg(children(1), "k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("max_sim"),
      new ExpressionInfo(classOf[MaxSimScore].getName, null, "max_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "max_sim(q_codes, c_codes, sub_dim)")
        MaxSimScore(children.head, children(1), intArg(children(2), "sub_dim"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, null, "shingle_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "shingle_minhash(tokens_array, n, k)")
        ShingleMinHash(children.head, intArg(children(1), "n"), intArg(children(2), "k"))
      }))

    // ---- lakehouse table-valued functions --------------------------
    // The manifest table's SQL face (the sanctioned injectTableFunction
    // extension point, Spark 3.5+): a FROM-position call resolves to
    // the SAME analyzed plan the DataFrame API builds, so pruning,
    // recorded-schema reads and time travel behave identically.
    //   SELECT * FROM graft_table('/path')               -- head
    //   SELECT * FROM graft_table('/path', 3)            -- version 3
    //   SELECT * FROM graft_table_at('/path', <epochMs>) -- as of time
    //   SELECT * FROM graft_history('/path')             -- audit trail
    //   SELECT * FROM graft_changes('/path', 2)          -- CDF since v2
    def tvf(name: String)(build: Seq[Expression] => LogicalPlan): Unit =
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(graft.sources.ManifestTable.getClass.getName, null, name),
        build))
    // every TVF's first argument accepts a REGISTERED NAME next to a
    // path (r14, the by-name ergonomics the batch/stream faces got
    // earlier): 'graft.events' / 'events' resolve through the
    // registry — the `graft.`-prefixed spelling loudly, the bare one
    // only when registered (anything with a '/' stays a path).
    def pathArg(e: Expression): String = {
      val raw = strArg(e, "path")
      if (raw.toLowerCase.startsWith("graft.")) {
        val n = raw.drop("graft.".length)
        graft.sources.GraftCatalog.lookup(n).getOrElse(
          throw new IllegalArgumentException(
            s"no registered table '$n' — register it or pass the path"))
      } else if (!raw.contains("/"))
        graft.sources.GraftCatalog.lookup(raw).getOrElse(raw)
      else raw
    }
    tvf("graft_table") { children =>
      require(children.nonEmpty && children.length <= 2,
        "graft_table(path[, version])")
      val path = pathArg(children.head)
      val v = children.drop(1).headOption.map(intArg(_, "version")).getOrElse(-1)
      graft.sources.ManifestTable.read(SparkSession.active, path, v)
        .queryExecution.analyzed
    }
    tvf("graft_table_at") { children =>
      require(children.length == 2, "graft_table_at(path, epoch_ms)")
      graft.sources.ManifestTable.readAsOf(SparkSession.active,
          pathArg(children.head), longArg(children(1), "epoch_ms"))
        .queryExecution.analyzed
    }
    tvf("graft_history") { children =>
      require(children.length == 1, "graft_history(path)")
      graft.sources.ManifestTable.history(SparkSession.active,
        pathArg(children.head)).queryExecution.analyzed
    }
    tvf("graft_changes") { children =>
      require(children.length == 2, "graft_changes(path, since_version)")
      graft.sources.ManifestTable.changes(SparkSession.active,
          pathArg(children.head), intArg(children(1), "since_version"))
        .queryExecution.analyzed
    }

    // ---- catalog names ---------------------------------------------
    // GraftCatalog.register(name, path) → `FROM graft.<name>` (and
    // bare `<name>` when nothing else resolves it) reads the CURRENT
    // head at query time; `graft.`<name>@v3`` time-travels. The rule
    // fires only on relations the built-in resolver left unresolved,
    // so real tables and views always win a clash — the TVFs above
    // become sugar, not the only door.
    ext.injectResolutionRule(session =>
      new graft.sources.GraftCatalog.Resolution(session))
    // DDL (CREATE/DROP TABLE graft.<name>) must rewrite BEFORE the
    // Resolution batch — the builtin identifier resolver would claim
    // the graft namespace for the session catalog and abort with
    // SCHEMA_NOT_FOUND first. The Hints batch runs earliest.
    ext.injectHintResolutionRule(session =>
      new graft.sources.GraftCatalog.DdlResolution(session))
    // file skipping on every manifest read (DataFrame, SQL, TVF): pins
    // the filters pushed onto a manifest relation into its index, so
    // the optimized plan — `inputFiles`, EXPLAIN — names only the kept
    // files. Runs after operator optimization has pushed the filters
    // down, like Spark's own PruneFileSourcePartitions.
    ext.injectPreCBORule(_ => graft.sources.PinManifestFiles)
    // maintenance statements vanilla Spark has no grammar for
    // (OPTIMIZE / VACUUM) — a thin delegating parser, the sanctioned
    // injectParser extension point (r14)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case _ => throw new IllegalArgumentException(
      s"$name must be a string literal, got $e")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case _ => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $e")
  }

  /** The n/k parameters shape the output schema, so SQL callers must
    * pass integer literals (mirrors how Spark's own `approx_count_distinct`
    * treats its precision argument). */
  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $e")
  }
}
