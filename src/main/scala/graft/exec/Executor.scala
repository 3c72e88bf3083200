package graft.exec

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ast._
import graft.compiler.{Compiler, CompileException, TableFunctions}
import graft.functions.Registry
import graft.parser.Parser

/** Persistent query session: mutable scope (name → DataFrame) + statement
  * handlers. The Spark-native analog of the reference's `Executor`
  * (reference src/framequery/executor/_executor.py:37-96): `update` adds
  * frames, COPY/CREATE TABLE AS/DROP TABLE mutate the scope,
  * `addFunction`/`addTableFunction`/`addLateralFunction` extend the
  * registries, `withBasepath` rebinds the COPY base directory.
  *
  * Caller-frame scope capture (reference :123-128) has no JVM analog —
  * the scope is always explicit (documented divergence, SURVEY §7.4).
  */
final class Executor(val spark: SparkSession,
    initial: Map[String, DataFrame] = Map.empty,
    /** reference-parity CREATE TABLE AS: materialize eagerly (eager
      * localCheckpoint) so later statements see a stable snapshot even
      * when the source mutates between statements (`_executor.py:
      * 445-448`). Off by default — lazy plans are the Spark-idiomatic
      * choice and avoid pinning executor storage. */
    val eagerCtas: Boolean = false) {

  private var scope: Map[String, DataFrame] = initial
  val registry = new Registry
  val tableFunctions = new TableFunctions(spark)

  /** ANALYZE-collected statistics, keyed by scope name. Any rebind of a
    * name (COPY FROM, CTAS, DML, DROP, update) invalidates its entry —
    * stale stats silently steering a broadcast the wrong way is worse
    * than no stats. */
  private var stats: Map[String, graft.compiler.TableStats] = Map.empty
  private val compiler =
    new Compiler(spark, registry, tableFunctions, name => stats.get(name))

  /** Storage paths backing scope entries (COPY FROM / persisted CTAS):
    * a COPY TO / persisted CTAS that overwrites one of these paths
    * silently changes the data behind every table reading it — their
    * ANALYZE stats must drop with it (stale stats steering a broadcast
    * are worse than none). */
  private var sourcePaths: Map[String, String] = Map.empty

  /** Paths THIS session wrote (COPY TO, persisted CTAS). OPTIMIZE
    * rewrites storage in place, so it refuses any path merely attached
    * from existing data (COPY FROM a user's source tree must never be
    * clobbered by a maintenance verb). */
  private var ownedPaths: Set[String] = Set.empty

  /** PG command tag for the last executed statement when it carries a
    * row count (`INSERT 0 n` / `UPDATE n` / `DELETE n` / `COPY n`) —
    * what psql displays and JDBC's executeUpdate returns. The count is
    * one extra Spark job, so it is computed LAZILY the first time a
    * server asks and memoized; library callers that never read the tag
    * pay nothing. */
  private var lastTagThunk: Option[() => String] = None
  def lastCommandTag: Option[String] = lastTagThunk.map { f =>
    val tag = f()
    lastTagThunk = Some(() => tag)
    tag
  }

  // inspection surface for the collected statistics:
  //   SELECT * FROM table_stats()
  tableFunctions.register("table_stats", _ => {
    import spark.implicits._
    stats.toSeq.sortBy(_._1)
      .map { case (n, s) => (n, s.rows, s.sizeBytes) }
      .toDF("table_name", "row_count", "est_size_bytes")
  })

  def update(entries: (String, DataFrame)*): Unit = {
    scope ++= entries
    stats --= entries.map(_._1)
  }

  /** Attach a path-backed table with any sidecar stats a previous
    * session's ANALYZE persisted (ScopeSpec bootstrap path). */
  private[exec] def attachFromPath(name: String, df: DataFrame,
      path: String): Unit = {
    update(name -> df)
    sourcePaths += (name -> path)
    Executor.readStatsSidecar(path).foreach(st => stats += (name -> st))
  }

  def tableNames: Seq[String] = scope.keys.toSeq.sorted
  def table(name: String): Option[DataFrame] = scope.get(name)

  def addFunction(name: String, f: Seq[Column] => Column): Unit =
    registry.register(name, f)
  /** UDAF names registered through THIS executor — threaded into the
    * parser per statement, so one session's registration cannot
    * reclassify a function name (projection vs aggregate) for another
    * session in the same JVM. (Spark's udf registry remains
    * session-wide, as Spark defines it.) */
  private val registeredAggNames = scala.collection.mutable.Set.empty[String]

  /** Register a typed Spark Aggregator as a SQL aggregate (the UDAF
    * surface SURVEY §2.10 leaves open): usable from dialect SQL in
    * grouped, global, and HAVING positions. */
  def addAggregate[IN: scala.reflect.runtime.universe.TypeTag, BUF, OUT](
      name: String,
      agg: org.apache.spark.sql.expressions.Aggregator[IN, BUF, OUT]): Unit = {
    spark.udf.register(name, udaf(agg))
    registeredAggNames += name.toLowerCase
  }

  def addTableFunction(name: String, f: Seq[Any] => DataFrame): Unit =
    tableFunctions.register(name, f)
  def addLateralFunction(name: String,
      f: (DataFrame, Seq[Column]) => DataFrame): Unit =
    tableFunctions.registerLateral(name, f)

  def basepath: String = tableFunctions.basepath
  def withBasepath[A](p: String)(body: => A): A = {
    val old = tableFunctions.basepath
    tableFunctions.basepath = p
    try body finally tableFunctions.basepath = old
  }
  def setBasepath(p: String): Unit = tableFunctions.basepath = p

  /** Execute one statement. SELECT/SHOW return a DataFrame; DDL/COPY
    * mutate the scope and return None. */
  def execute(sql: String): Option[DataFrame] = {
    lastTagThunk = None
    Parser.parse(sql, registeredAggNames.toSet) match {
    case s: Select => Some(compiler.compileSelect(s, scope))

    case CopyFrom(table, path, options) =>
      val p = tableFunctions.resolvePath(path)
      val df = readSource(p, options)
      rebind(table, df)
      sourcePaths += (table -> p)
      // stats persisted by a previous session's ANALYZE ride back in
      Executor.readStatsSidecar(p).foreach(st => stats += (table -> st))
      lastTagThunk = Some(() => s"COPY ${df.count()}")
      None

    case CopyTo(table, path, options) =>
      val df = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val p = tableFunctions.resolvePath(path)
      writeSink(df, p, options)
      invalidatePath(p)
      ownedPaths += p
      lastTagThunk = Some(() => s"COPY ${df.count()}")
      None

    case ExplainStmt(q, analyze) =>
      val df = compiler.compileSelect(q, scope)
      val lines =
        if (!analyze)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).linesIterator.toSeq
        else {
          // PG EXPLAIN ANALYZE: run the query, discard the output, then
          // report the FINAL (post-AQE) plan plus per-node runtime
          // metrics — actual rows, spill, shuffle bytes, times
          val t0 = System.nanoTime()
          // drive the INSPECTED plan (df.foreach would spin up a
          // separate RDD query execution and leave these metrics zero)
          df.queryExecution.toRdd.foreach(_ => ())
          val elapsedMs = (System.nanoTime() - t0) / 1e6
          def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
              : org.apache.spark.sql.execution.SparkPlan = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              unwrap(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              unwrap(q.plan)
            case other => other
          }
          def walk(p: org.apache.spark.sql.execution.SparkPlan,
              depth: Int): Seq[String] = {
            val u = unwrap(p)
            val ms = u.metrics.toSeq.sortBy(_._1)
              .filter(_._2.value > 0)
              .map { case (k, m) => s"$k=${m.value}" }
            val line = ("  " * depth) + u.nodeName +
              (if (ms.isEmpty) "" else ms.mkString(" (", ", ", ")"))
            line +: u.children.flatMap(walk(_, depth + 1))
          }
          (df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).linesIterator.toSeq
            :+ "" :+ f"Execution time: $elapsedMs%.1f ms"
            :+ "Runtime metrics:") ++
            walk(df.queryExecution.executedPlan, 1)
        }
      Some(spark.createDataset(lines)(
        org.apache.spark.sql.Encoders.STRING).toDF("query plan"))

    case InsertInto(table, cols, q) =>
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      var add = compiler.compileSelect(q, scope)
      val tcols = target.columns
      if (cols.isEmpty) {
        // positional: arity must match the target exactly
        if (add.columns.length != tcols.length)
          throw CompileException(
            s"INSERT has ${add.columns.length} columns but '$table' has ${tcols.length}")
        add = add.toDF(tcols: _*)
      } else {
        if (cols.length != add.columns.length)
          throw CompileException(
            s"INSERT column list has ${cols.length} names but the source has ${add.columns.length}")
        // resolve names case-insensitively and reject unknown columns —
        // a typo must not silently drop the value and insert NULLs
        add = add.toDF(cols.map(resolveColumn(target, table, _)): _*)
      }
      val present = add.columns.toSet
      val aligned = add.select(tcols.map { c =>
        val ty = target.schema(c).dataType
        if (present.contains(c)) col(c).cast(ty).as(c)
        else lit(null).cast(ty).as(c) // unlisted target columns fill NULL
      }: _*)
      rebind(table, target.unionAll(aligned))
      lastTagThunk = Some(() => s"INSERT 0 ${aligned.count()}")
      None

    case DeleteFrom(table, where, Some(usingRel)) =>
      // PG `DELETE ... USING f [WHERE p]`: delete target rows with ≥1
      // match in f under p. Lowered through a synthetic SELECT over the
      // cross product so the full WHERE machinery (subqueries included)
      // applies; row identity pinned by __tid, removal via anti-join.
      val (t, fromList) = joinDmlFrame(table, Some(usingRel))
      val sel = graft.ast.Select(
        items = Seq(graft.ast.ExprItem(
          graft.ast.ColRef(Seq("__tid")), Some("__tid"))),
        from = fromList,
        where = where)
      val tids = compiler.compileSelect(sel, scope + (DmlSrcName -> t))
        .distinct().localCheckpoint(true) // computed once: tag + anti-join
      lastTagThunk = Some(() => s"DELETE ${tids.count()}")
      rebind(table, t.join(tids, Seq("__tid"), "left_anti").drop("__tid"))
      None

    case DeleteFrom(table, where, None) =>
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val kept = where match {
        // SQL deletes rows where the predicate is TRUE; FALSE and
        // UNKNOWN rows stay — hence the coalesce before negation
        case Some(p) if !containsSubquery(p) =>
          lastTagThunk = Some(() => s"DELETE ${target.filter(
            coalesce(compiler.compileExpr(p), lit(false))).count()}")
          target.filter(!coalesce(compiler.compileExpr(p), lit(false)))
        case Some(p) =>
          // IN/EXISTS predicates route through the full WHERE lowering;
          // exceptAll removes exactly the matched bag of rows
          val matched = compiler.filterWhere(target, p, scope)
          lastTagThunk = Some(() => s"DELETE ${matched.count()}")
          target.exceptAll(matched)
        case None =>
          lastTagThunk = Some(() => s"DELETE ${target.count()}")
          target.limit(0)
      }
      rebind(table, kept)
      None

    case UpdateStmt(table, sets, where, fromRel)
        if fromRel.isDefined || sets.exists(s => containsSubquery(s._2)) =>
      // PG `UPDATE ... [FROM f]` and subquery-bearing SET expressions:
      // lowered through a synthetic SELECT over (target × f) so the full
      // expression machinery — scalar subqueries (incl. correlated),
      // IN/EXISTS in WHERE — applies to SET and WHERE alike. Row
      // identity pinned by __tid; a target row with several FROM
      // matches takes exactly one, deterministically (smallest projected
      // tuple — PG documents "arbitrary"). WHERE-UNKNOWN rows keep
      // their values, like the fast path.
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val setMap: Map[String, Expr] = sets.map { case (c, e) =>
        resolveColumn(target, table, c) -> e
      }.toMap
      val (t, fromList) = joinDmlFrame(table, fromRel)
      // passthrough target columns are QUALIFIED (t.c): the FROM side
      // commonly shares names with the target (join keys!) and an
      // unqualified ref would be ambiguous over the cross product
      val items = graft.ast.ExprItem(
          graft.ast.ColRef(Seq("__tid")), Some("__tid")) +:
        target.columns.toSeq.map { c =>
          graft.ast.ExprItem(
            setMap.getOrElse(c, graft.ast.ColRef(Seq(table, c))), Some(c))
        }
      val sel = graft.ast.Select(items = items, from = fromList,
        where = where)
      val matched0 = compiler.compileSelect(sel, scope + (DmlSrcName -> t))
      val matched = (if (fromRel.isDefined) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__tid"))
            .orderBy(target.columns.toSeq.map(col): _*)
          matched0.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        } else matched0)
        .localCheckpoint(true) // computed once: tag + anti-join + union
      lastTagThunk = Some(() => s"UPDATE ${matched.count()}")
      val updatedRows = matched.select(col("__tid") +:
        target.columns.toSeq.map(c =>
          col(c).cast(target.schema(c).dataType).as(c)): _*)
      val untouched = t
        .join(matched.select(col("__tid")), Seq("__tid"), "left_anti")
        .select(col("__tid") +: target.columns.toSeq.map(col): _*)
      rebind(table, untouched.unionAll(updatedRows).drop("__tid"))
      None

    case UpdateStmt(table, sets, where, _) =>
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      // SET names resolve case-insensitively; unknown columns error
      // rather than silently not updating anything
      val setMap: Map[String, Expr] = sets.map { case (c, e) =>
        resolveColumn(target, table, c) -> e
      }.toMap
      // all SET expressions evaluate against the OLD row values (SQL
      // semantics), so build one select rather than chained withColumn
      def applySets(df: DataFrame, cond: Option[Column]): DataFrame =
        df.select(target.columns.map { c =>
          setMap.get(c) match {
            case Some(e) =>
              val newVal = compiler.compileExpr(e).cast(target.schema(c).dataType)
              cond.fold(newVal)(p => when(p, newVal).otherwise(col(c))).as(c)
            case None => col(c)
          }
        }: _*)
      val updated = where match {
        case None =>
          lastTagThunk = Some(() => s"UPDATE ${target.count()}")
          applySets(target, None)
        case Some(p) if !containsSubquery(p) =>
          lastTagThunk = Some(() => s"UPDATE ${target.filter(
            coalesce(compiler.compileExpr(p), lit(false))).count()}")
          applySets(target, Some(coalesce(compiler.compileExpr(p), lit(false))))
        case Some(p) =>
          // subquery predicate: split matched/unmatched through the full
          // WHERE lowering, transform only the matched bag
          val matched = compiler.filterWhere(target, p, scope)
          lastTagThunk = Some(() => s"UPDATE ${matched.count()}")
          target.exceptAll(matched).unionAll(applySets(matched, None))
      }
      rebind(table, updated)
      None

    case MergeStmt(table, tAlias, source, on, clauses) =>
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val ta = tAlias.getOrElse(table)
      val targetCols = target.columns.toSeq
      def dtype(c: String) = target.schema(c).dataType
      // pin row identity: bag semantics need each target row tracked
      // through the join (duplicates included); checkpoint freezes ids
      val t = target.withColumn("__tid", monotonically_increasing_id())
        .localCheckpoint(true).alias(ta)
      val srcName = source match {
        case TableRef(_, n, a) => a.getOrElse(n)
        case SubqueryRel(_, Some(a)) => a
        case ValuesRel(_, Some(a), _) => a
        case _ => throw CompileException(
          "MERGE source must be a table or an aliased subquery")
      }
      val srcM = compiler.compileRelation(source, scope)
        .withColumn("__smark", lit(1)).alias(srcName)
      val cond = compiler.compileExpr(on)
      val joined = t.join(srcM, cond, "left_outer")
      val isM = col("__smark").isNotNull
      val matchedClauses = clauses.filter(_.matched)
      val notMatchedClauses = clauses.filterNot(_.matched)
      def extraCond(cl: MergeClause): Column =
        cl.cond.map(e => coalesce(compiler.compileExpr(e), lit(false)))
          .getOrElse(lit(true))
      // SQL:2003: exactly ONE clause acts on a row — decide the first
      // applicable matched clause ONCE per row (null = matched-but-no-
      // clause-applies, or not matched) and gate every column update and
      // the keep flag on that index. Folding per column would let a later
      // clause's SET leak onto rows an earlier clause already consumed.
      val clauseIdx: Column = matchedClauses.zipWithIndex
        .foldRight(lit(null).cast("int")) { case ((cl, i), acc) =>
          when(isM && extraCond(cl), lit(i)).otherwise(acc)
        }
      // SQL standard cardinality check: error only when a target row is
      // actually UPDATEd/DELETEd via more than one source row (PG
      // semantics) — insert-only MERGEs against duplicate-matching
      // sources are legal, as are duplicate matches no clause acts on
      if (joined.withColumn("__cl", clauseIdx).filter(col("__cl").isNotNull)
          .groupBy(col("__tid")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).count() > 0)
        throw CompileException(
          "MERGE: a target row was updated or deleted by multiple source rows")
      def valueFor(c: String): Column =
        matchedClauses.zipWithIndex.foldRight(t(c)) { case ((cl, i), acc) =>
          cl.action match {
            case "update" =>
              val setMap = cl.sets.map { case (sc, e) =>
                resolveColumn(target, table, sc) -> e
              }.toMap
              setMap.get(c) match {
                case Some(e) => when(col("__cl") === i,
                  compiler.compileExpr(e).cast(dtype(c))).otherwise(acc)
                case None => acc
              }
            case _ => acc // delete: value irrelevant, the keep flag drops it
          }
        }
      val keep = matchedClauses.zipWithIndex.foldRight(lit(true)) {
        case ((cl, i), acc) =>
          when(col("__cl") === i, lit(cl.action != "delete")).otherwise(acc)
      }
      // A target row may legally join several source rows when at most one
      // of them triggers a clause (the cardinality check above guarantees
      // ≤1 acted copy). Resolve per __tid: the acted copy (__cl non-null)
      // wins; otherwise the copies are identical originals — keep one.
      val tidW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__tid")).orderBy(col("__cl").asc_nulls_last)
      val survivors = joined.withColumn("__cl", clauseIdx)
        .select(targetCols.map(c => valueFor(c).as(c)) ++
          Seq(keep.as("__keep"), col("__tid"), col("__cl")): _*)
        .withColumn("__rn", row_number().over(tidW))
        .filter(col("__rn") === 1 && col("__keep"))
        .drop("__rn", "__keep", "__tid", "__cl")
      // NOT MATCHED: source rows with no target partner, first
      // applicable clause's INSERT spec (NULL-filled, cast — the
      // InsertInto contract); rows no clause covers are ignored
      val insertable = srcM.join(t, cond, "left_anti")
      def insertValue(cl: MergeClause, c: String): Column = {
        val cols =
          if (cl.insertCols.isEmpty) targetCols
          else cl.insertCols.map(resolveColumn(target, table, _))
        if (cols.length != cl.insertVals.length)
          throw CompileException(s"MERGE INSERT has ${cl.insertVals.length} " +
            s"values for ${cols.length} columns")
        cols.zip(cl.insertVals).toMap.get(c)
          .map(e => compiler.compileExpr(e).cast(dtype(c)))
          .getOrElse(lit(null).cast(dtype(c)))
      }
      val anyInsert = notMatchedClauses.foldRight(lit(false)) {
        case (cl, acc) => when(extraCond(cl), lit(true)).otherwise(acc)
      }
      val inserts = insertable.filter(anyInsert).select(targetCols.map { c =>
        notMatchedClauses.foldRight(lit(null).cast(dtype(c))) {
          case (cl, acc) => when(extraCond(cl), insertValue(cl, c)).otherwise(acc)
        }.as(c)
      }: _*)
      lastTagThunk = Some(() => {
        val m = joined.withColumn("__cl", clauseIdx)
          .filter(col("__cl").isNotNull).count()
        val i = insertable.filter(anyInsert).count()
        s"MERGE ${m + i}"
      })
      rebind(table, survivors.unionAll(inserts))
      None

    case TruncateStmt(table) =>
      val target = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      rebind(table, target.limit(0))
      lastTagThunk = Some(() => "TRUNCATE TABLE")
      None

    case CreateTableAs(name, query, options) =>
      val df = compiler.compileSelect(query, scope)
      options.get("persist") match {
        case Some("bucket") =>
          // bucketed catalog table: `WITH (persist 'bucket', bucket_by
          // 'k'[, buckets '8'])` — the 100 TB co-location primitive:
          // two tables bucketed on the same key hash-join WITHOUT a
          // shuffle on either side (the write pays the partitioning
          // once; every subsequent join on the key rides it). Lives in
          // the Spark session catalog because bucket metadata does.
          val bucketCol = options.getOrElse("bucket_by",
            throw CompileException(
              "persist 'bucket' requires a bucket_by column"))
          if (!df.columns.exists(_.equalsIgnoreCase(bucketCol)))
            throw CompileException(
              s"bucket_by column '$bucketCol' not in the result")
          val n = options.getOrElse("buckets", "8").toInt
          if (n <= 0) throw CompileException("buckets must be positive")
          val tbl = s"graft_bucketed_$name"
          graft.sources.Sinks.writeBucketed(df, tbl, bucketCol, n)
          rebind(name, spark.table(tbl))
        case Some(fmt) =>
          // persisted catalog: `WITH (persist 'parquet'[, path '...'])`
          // writes the result through the COPY TO machinery and re-opens
          // the scope entry FROM storage — the table is then lineage-free
          // (later mutation of its inputs cannot change it) and a fresh
          // session re-attaches to the same files via ScopeSpec `tables`
          // or COPY FROM. The reference's CTAS is memory-only
          // (_executor.py:445-448) — this is the durability a 100 TB
          // user expects of CREATE TABLE (beyond-parity extension).
          val p = tableFunctions.resolvePath(
            options.getOrElse("path", s"$name.$fmt"))
          val io = options - "persist" - "path" + ("format" -> fmt.toLowerCase)
          writeSink(df, p, io)
          invalidatePath(p)
          ownedPaths += p
          rebind(name, readSource(p, io))
          sourcePaths += (name -> p)
        case None =>
          // lazy by default: the plan re-evaluates on use, like every
          // Spark view. With eagerCtas the frame is materialized NOW via
          // an eager localCheckpoint — lineage truncated, partitions
          // pinned — giving the reference's materialize-into-scope
          // snapshot semantics even when the source path is overwritten
          // afterwards (.cache() would NOT: Spark re-caches on path
          // overwrite).
          val stored = if (eagerCtas) df.localCheckpoint(true) else df
          rebind(name, stored)
      }
      None

    case DropTable(names) =>
      // free the skipping layer's driver caches for path-backed tables
      // (stat rows + lazily-loaded Bloom filters); on-disk data is
      // untouched and a later re-attach reloads them
      names.flatMap(sourcePaths.get).foreach(
        graft.sources.Skipping.evictTable)
      scope --= names
      stats --= names
      sourcePaths --= names
      names.foreach { n =>
        compiler.dropPrimaryKey(n); compiler.dropForeignKeysOf(n)
      }
      None

    case AlterAddPrimaryKey(table, cname, cols) =>
      val df = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      // single-column keys only: the catalog's _pg_expandarray renders
      // exactly one (x, n) record per index row (Registry.scala) — a
      // wider key needs set-returning expansion, so reject it loudly
      // instead of reflecting a key JDBC clients would misread
      if (cols.length != 1) throw CompileException(
        "multi-column primary keys are not supported")
      cols.foreach { c =>
        if (!df.columns.contains(c)) throw CompileException(
          s"column '$c' not found in table '$table'")
      }
      compiler.declarePrimaryKey(table, cname.getOrElse(table + "_pkey"), cols)
      lastTagThunk = Some(() => "ALTER TABLE")
      None

    case AlterAddForeignKey(table, cname, cols, refTable, refCols) =>
      val df = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val rdf = scope.getOrElse(refTable,
        throw CompileException(s"table '$refTable' not found in scope"))
      if (cols.length != 1 || refCols.length != 1) throw CompileException(
        "multi-column foreign keys are not supported")
      if (!df.columns.contains(cols.head)) throw CompileException(
        s"column '${cols.head}' not found in table '$table'")
      if (!rdf.columns.contains(refCols.head)) throw CompileException(
        s"column '${refCols.head}' not found in table '$refTable'")
      // PG requires a unique index on the referenced column; the
      // metadata analog is a declared primary key there — getImportedKeys
      // resolves the FK through that index (conindid), so enforce it
      compiler.primaryKeyOf(refTable) match {
        case Some((_, pkCols)) if pkCols == refCols => ()
        case _ => throw CompileException(
          s"referenced column '${refTable}(${refCols.head})' must carry a " +
            "declared PRIMARY KEY")
      }
      compiler.declareForeignKey(table,
        cname.getOrElse(s"${table}_${cols.head}_fkey"),
        cols.head, refTable, refCols.head)
      lastTagThunk = Some(() => "ALTER TABLE")
      None

    case AnalyzeStmt(tables) =>
      // measured statistics per table — ONE aggregate pass each (see
      // TableStats.compute); results steer the compiler's broadcast
      // decision until the name is rebound. No result set, like PG.
      // Path-backed tables additionally persist the measurement as a
      // sidecar next to the data, so a FRESH session re-attaching to the
      // files gets the broadcast decision without re-ANALYZE — exactly
      // how warehouse stats outlive sessions.
      val names = if (tables.isEmpty) scope.keys.toSeq.sorted else tables
      names.foreach { n =>
        val df = scope.getOrElse(n,
          throw CompileException(s"table '$n' not found in scope"))
        val st = graft.compiler.TableStats.compute(df)
        stats += (n -> st)
        sourcePaths.get(n).foreach(p => Executor.writeStatsSidecar(p, st))
      }
      None

    case OptimizeStmt(table, zcols, options) =>
      val df = scope.getOrElse(table,
        throw CompileException(s"table '$table' not found in scope"))
      val p = sourcePaths.getOrElse(table,
        throw CompileException(
          s"OPTIMIZE: '$table' is not path-backed — CREATE TABLE ... " +
          "WITH (persist 'parquet') or COPY it through storage first"))
      if (!ownedPaths.contains(p))
        throw CompileException(
          s"OPTIMIZE: refusing to rewrite '$p' in place — it was attached " +
          "from existing storage, not written by this session; re-create " +
          "the table WITH (persist 'parquet') to take ownership")
      // parquet backing is required (the rewrite machinery is parquet):
      // resolve the schema BEFORE any rename touches the directory. The
      // reader takes it from one footer on the driver; a footer it cannot
      // read goes to Spark's inference, whose error lands here
      try graft.sources.Tables.readParquet(spark, p).schema
      catch {
        case e: Exception =>
          throw CompileException(
            s"OPTIMIZE: '$p' is not parquet-backed (${e.getMessage})")
      }
      val resolved = zcols.map(c =>
        df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
          throw CompileException(s"OPTIMIZE: column '$c' not in '$table'")))
      // validate EVERYTHING user-controlled up front — a malformed option
      // or un-bucketable column must fail as a CompileException before
      // any rename touches the directory, not as an internal error
      // mid-rewrite
      resolved.foreach { c =>
        val dt = df.schema(df.columns.indexWhere(_ == c)).dataType
        if (!graft.sources.Skipping.rankable(dt))
          throw CompileException(
            s"OPTIMIZE: ZORDER BY column '$c' has type ${dt.simpleString} " +
            "— Z-order clustering needs numeric/date/timestamp (string " +
            "columns are still min/max-indexed by the manifest)")
      }
      options.keys.find(k =>
          !Set("files", "bits", "index", "bloom", "ndv", "hll",
            "force")(k))
        .foreach(k => throw CompileException(
          s"OPTIMIZE: unknown option '$k' (files, bits, index, bloom, " +
          "ndv, hll, force)"))
      val force = options.get("force") match {
        case None => false
        case Some(v) if Set("true", "1", "yes")(v.trim.toLowerCase) => true
        case Some(v) if Set("false", "0", "no")(v.trim.toLowerCase) => false
        // a typo'd force must fail loudly, not silently mean false —
        // the refusal it was meant to override would then tell the user
        // to pass the very option they think they passed
        case Some(v) => throw CompileException(
          s"OPTIMIZE: option 'force' must be true/false, got '$v'")
      }
      // streaming-writer guards, surfaced as CompileExceptions BEFORE
      // any rename (the same checks run inside Skipping.optimize for
      // API callers): a live ingest lease always refuses; epoch-tagged
      // files refuse unless WITH (force 'true') asserts the stream will
      // never resume from its old checkpoint
      graft.sources.Sinks.liveIngestLease(spark, p).foreach {
        case (tok, age) => throw CompileException(
          s"OPTIMIZE: a streaming ingest holds a live lease on '$table' " +
          s"(token '$tok', ${age / 1000}s old) — stop the stream and " +
          "retry after the lease expires, or let its own cadence " +
          "compaction do the folding")
      }
      if (!force && graft.sources.Sinks.hasRecoverableEpochFiles(spark, p))
        throw CompileException(
          s"OPTIMIZE: '$table' holds epoch-tagged files from a streaming " +
          "ingest — folding an uncommitted epoch would make its replay " +
          "double-append; pass WITH (force 'true') only after confirming " +
          "the stream will never resume from its old checkpoint")
      def intOption(key: String, default: => Int): Int =
        options.get(key) match {
          case None => default
          case Some(v) =>
            val i = try v.trim.toInt catch {
              case _: NumberFormatException => throw CompileException(
                s"OPTIMIZE: option '$key' must be a positive integer, " +
                s"got '$v'")
            }
            if (i <= 0) throw CompileException(
              s"OPTIMIZE: option '$key' must be positive, got '$v'")
            i
        }
      // `index 'c1,c2'` — extra manifest stat columns; `bloom 'c1'` —
      // per-file Bloom sidecars for point lookups; `ndv 'c1'` — exact
      // per-file distinct counts (the chain count(DISTINCT) / dense_rank
      // inputs); `hll 'c1'` — per-file HLL register sketches (approx
      // distinct on any layout). All imply stats on the same columns,
      // resolved case-insensitively against the table, validated before
      // any rename.
      def colListOption(key: String): Seq[String] =
        options.get(key).toSeq.flatMap(_.split(',')).map(_.trim)
          .filter(_.nonEmpty).map(c =>
            df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
              throw CompileException(
                s"OPTIMIZE: $key column '$c' not in '$table'")))
      val indexCols = colListOption("index")
      val bloomCols = colListOption("bloom")
      val ndvCols = colListOption("ndv")
      val hllCols = colListOption("hll")
      val nFiles = intOption("files", {
        // bin-pack to ~128 MB target files from actual bytes on disk
        val fsP = new org.apache.hadoop.fs.Path(p)
        val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        math.max(1L, fs.getContentSummary(fsP).getLength / (128L << 20)).toInt
      })
      val bits = intOption("bits", 8)
      // 16 is the rank-bucketing cap (Skipping.requireBits): beyond it
      // `1 << bits` Int arithmetic wraps (bits=31 silently buckets every
      // row to 0 — an UNCLUSTERED table with no error) and the quantile
      // probe array explodes; reject here, before any rename
      if (bits > 16)
        throw CompileException(
          s"OPTIMIZE: option 'bits' must be in 1..16, got '$bits'")
      if (resolved.nonEmpty && resolved.length * bits > 60)
        throw CompileException(
          s"OPTIMIZE: ${resolved.length} ZORDER columns x $bits bits " +
          "exceeds the 60-bit interleave budget — lower 'bits' " +
          s"(max ${60 / resolved.length} here)")
      // content is preserved by contract, so measured ANALYZE stats and
      // declared PK/FK metadata survive the rewrite (only the file
      // layout changed); rebind() drops both, so snapshot + restore
      // every scope entry reading this path captured the OLD file list
      // in its lineage — re-open them all from the swapped directory
      val backed = sourcePaths.collect { case (n, sp) if sp == p => n }.toSeq
      val savedStats = backed.flatMap(n => stats.get(n).map(n -> _)).toMap
      val savedPks = backed.flatMap(n =>
        compiler.primaryKeyOf(n).map(n -> _)).toMap
      val savedFks = compiler.foreignKeysInvolving(backed.toSet)
      graft.sources.Skipping.optimize(spark, p, resolved, nFiles, bits,
        indexCols, bloomCols, force, ndvCols, hllCols)
      backed.foreach { n =>
        rebind(n, readSource(p, Map("format" -> "parquet")))
        sourcePaths += (n -> p)
        savedStats.get(n).foreach { st =>
          stats += (n -> st)
          // the swap deleted the old directory INCLUDING the ANALYZE
          // sidecar — re-persist it, or a fresh session re-attaching to
          // the path would lose the measured broadcast decision
          Executor.writeStatsSidecar(p, st)
        }
      }
      savedPks.foreach { case (n, (cn, cols)) =>
        compiler.declarePrimaryKey(n, cn, cols) }
      savedFks.foreach { case (t, cn, c, rt, rc) =>
        compiler.declareForeignKey(t, cn, c, rt, rc) }
      // DERIVED frames (lazy CTAS views over this table) are not
      // path-backed, but their lineage also pins the dead pre-swap file
      // list — swap in a freshly-listed index, same output attributes
      scope.toSeq.collect { case (n, d) if !backed.contains(n) => (n, d) }
        .foreach { case (n, d) =>
          org.apache.spark.sql.graft.PlanRefresh.reopenPath(spark, d, p)
            .foreach(fresh => scope += (n -> fresh))
        }
      lastTagThunk = Some(() =>
        s"OPTIMIZE ${graft.sources.Skipping.dataFiles(spark, p).size}")
      None

    case ShowStmt(what) =>
      import spark.implicits._
      what match {
        // real listings over the scope (beyond the reference's stubs)
        case "tables" =>
          Some(scope.keys.toSeq.sorted.toDF("table_name"))
        case s if s.startsWith("columns from ") || s.startsWith("columns in ") =>
          val t = s.split("\\s+").last
          val df = scope.getOrElse(t,
            throw CompileException(s"table '$t' not found in scope"))
          Some(df.schema.fields.toSeq
            .map(f => (f.name, f.dataType.simpleString, f.nullable))
            .toDF("column_name", "data_type", "nullable"))
        case _ =>
          // config stubs (reference _executor.py:403-414)
          val value = what match {
            case "transaction isolation level" => "read only"
            case "standard_conforming_strings" => "on"
            case _ => ""
          }
          Some(Seq(value).toDF(what.replace(' ', '_')))
      }
  }
  }

  /** Compile without executing: a lazy DataFrame for statements that are
    * side-effect-free (SELECT; SHOW/EXPLAIN build tiny local frames), None
    * for statements whose execution mutates scope or storage (COPY,
    * CREATE/DROP/INSERT/TRUNCATE). The PgWire extended protocol uses this
    * to Bind/Describe a statement before Execute — Describe must not run
    * a CTAS as a side effect of asking for its result shape. */
  def compileQuery(sql: String): Option[DataFrame] =
    Parser.parse(sql, registeredAggNames.toSet) match {
      case s: Select => Some(compiler.compileSelect(s, scope))
      case ExplainStmt(_, true) =>
        // EXPLAIN ANALYZE's "compilation" runs the whole query for its
        // metrics — callers needing a no-action probe must use
        // deferredResultSchema and execute at their own commit point
        None
      case _: ShowStmt | _: ExplainStmt => execute(sql)
      case _ => None
    }

  /** Statements whose COMPILATION is execution (EXPLAIN ANALYZE runs
    * the query to gather runtime metrics): the wire server defers them
    * to Execute and advertises this static result schema instead of
    * probing. */
  def deferredResultSchema(sql: String)
      : Option[org.apache.spark.sql.types.StructType] =
    try Parser.parse(sql, registeredAggNames.toSet) match {
      case ExplainStmt(_, true) =>
        Some(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query plan",
            org.apache.spark.sql.types.StringType, nullable = false))))
      case _ => None
    } catch { case _: Exception => None }

  /** SELECT-only entry; throws on statements. */
  def query(sql: String): DataFrame =
    execute(sql).getOrElse(
      throw CompileException("statement did not produce a result set"))

  /** Parameterized query, DBAPI style (reference dbapi.py:85-90 +
    * util/_funcs.py:14-36): `%s` positional placeholders substituted
    * with SQL-escaped literals — NULL for null, `''`-escaped quoting for
    * strings, bare literals for numbers/booleans; `%%` is a literal
    * percent. Escaping happens before parsing, so parameter content can
    * never terminate a literal (the reference's injection guarantee). */
  def query(sql: String, params: Seq[Any]): DataFrame =
    query(Executor.substitute(sql, params))

  /** Named-parameter variant: `%(name)s` placeholders. */
  def query(sql: String, params: Map[String, Any]): DataFrame =
    query(Executor.substituteNamed(sql, params))

  /** Execute a semicolon-separated script; returns the last result set.
    * The split is quote-aware (a ';' inside a string literal, e.g. a CSV
    * delimiter option, does not terminate the statement). */
  def executeScript(script: String): Option[DataFrame] =
    Executor.splitStatements(script)
      .foldLeft(Option.empty[DataFrame])((_, s) => execute(s))

  /** Catalyst's formatted physical plan for a dialect query — the
    * inspection surface for pushdown / join-strategy checks. */
  def explain(sql: String): String =
    query(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** Rebind a scope name and drop its ANALYZE stats (now stale). */
  private def rebind(name: String, df: DataFrame): Unit = {
    scope += (name -> df)
    stats -= name
    sourcePaths -= name
    // declared keys no longer describe the data (either side)
    compiler.dropPrimaryKey(name)
    compiler.dropForeignKeysOf(name)
  }

  /** A write just overwrote `p`: drop the ANALYZE stats of every scope
    * entry reading from that path — their measured sizes no longer
    * describe the data behind them. */
  private def invalidatePath(p: String): Unit =
    stats --= sourcePaths.collect { case (n, sp) if sp == p => n }

  /** Case-insensitive column resolution for DML name lists. */
  private def resolveColumn(target: DataFrame, table: String,
      name: String): String =
    target.columns.find(_.equalsIgnoreCase(name)).getOrElse(
      throw CompileException(s"column '$name' does not exist in '$table'"))

  /** Does a DML predicate contain subquery forms that need the full
    * WHERE lowering (vs a plain row-wise filter)? */
  /** Scope key the join-DML lowerings (UPDATE…FROM / DELETE…USING /
    * subquery-bearing SET) bind their synthetic frame under. */
  private val DmlSrcName = "__dml_src"

  /** Shared scaffolding for the join-DML lowerings: the target with a
    * pinned `__tid` row identity (checkpointed — bag semantics must
    * survive the anti-join/union round trip), plus the synthetic FROM
    * list that binds it under its table name (qualified refs resolve)
    * ahead of the user's optional PG FROM/USING relation, which keeps
    * its OWN aliases — compileCore's cross-join fold assembles them. */
  private def joinDmlFrame(table: String, rel: Option[graft.ast.Relation])
      : (DataFrame, Seq[graft.ast.Relation]) = {
    val target = scope.getOrElse(table,
      throw CompileException(s"table '$table' not found in scope"))
    val t = target.withColumn("__tid", monotonically_increasing_id())
      .localCheckpoint(true)
    (t, graft.ast.TableRef(None, DmlSrcName, Some(table)) +: rel.toSeq)
  }

  private def containsSubquery(e: Expr): Boolean = e match {
    case _: InSubquery | _: ExistsSubquery | _: ScalarSubquery => true
    case BinaryOp(_, l, r) => containsSubquery(l) || containsSubquery(r)
    case UnaryOp(_, x) => containsSubquery(x)
    case Call(_, as) => as.exists(containsSubquery)
    case CallSet(_, as, _, _) => as.exists(containsSubquery)
    case CastExpr(x, _) => containsSubquery(x)
    case CaseExpr(bs, o) =>
      bs.exists { case (c, v) => containsSubquery(c) || containsSubquery(v) } ||
        o.exists(containsSubquery)
    case InList(x, vs, _) => containsSubquery(x) || vs.exists(containsSubquery)
    case RowCtor(items) => items.exists(containsSubquery)
    case _ => false
  }

  /** Source-read dispatch shared by COPY FROM and persisted-CTAS
    * re-open. format 'csv' (reference surface) | 'parquet' | 'orc' |
    * 'json' | 'jsonl' | 'xml' (extensions). Compressed inputs (.gz etc.)
    * need no option — Spark's text-based sources decompress by
    * extension. */
  private def readSource(p: String, options: Map[String, String]): DataFrame =
    options.getOrElse("format", "csv").toLowerCase match {
      case "parquet" => graft.sources.Tables.readParquet(spark, p)
      case "orc" => spark.read.orc(p)
      // Spark's json source IS line-delimited by default; 'jsonl'
      // accepted as the explicit name a pipeline user reaches for
      case "json" | "jsonl" => spark.read.json(p)
      // Spark 4 ships the XML source built in; rowTag selects the
      // element that maps to a row (default 'row', the write default)
      // the parser lowercases option names, so "rowtag" is the key
      case "xml" => spark.read
        .option("rowTag", options.getOrElse("rowtag", "row")).xml(p)
      case "csv" | "text" => tableFunctions.readCsv(p, options)
      case other => throw CompileException(
        s"unsupported COPY format '$other' (csv, parquet, orc, json, jsonl, xml)")
    }

  /** Sink-write dispatch shared by COPY TO and persisted CTAS. */
  private def writeSink(df: DataFrame, p: String,
      options: Map[String, String]): Unit = {
    // COMPRESSION gzip|snappy|zstd|none rides through as the writer's
    // codec (parquet defaults to snappy; text formats to none)
    val codec = options.get("compression").map(_.toLowerCase)
    def compressed[W](w: org.apache.spark.sql.DataFrameWriter[W]) =
      codec.fold(w)(c => w.option("compression", c))
    // `partition_by 'a[,b]'`: hive-style directory partitioning — the
    // 100 TB layout lever: a reader filtering on a partition column
    // prunes whole directories at plan time (zero I/O for excluded
    // partitions). Directory formats only; csv's one-file contract
    // can't partition.
    val partCols = options.get("partition_by").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    partCols.find(c => !df.columns.exists(_.equalsIgnoreCase(c)))
      .foreach(c => throw CompileException(
        s"partition_by column '$c' not in the result"))
    def parted[W](w: org.apache.spark.sql.DataFrameWriter[W]) =
      if (partCols.isEmpty) w else w.partitionBy(partCols: _*)
    options.getOrElse("format", "csv").toLowerCase match {
      // parquet/orc/json write a directory of part-files — the scale-
      // native layout (parallel writers); csv keeps the reference's
      // one-file contract via coalesce(1)
      case "parquet" => parted(compressed(df.write.mode("overwrite"))).parquet(p)
      case "orc" => parted(compressed(df.write.mode("overwrite"))).orc(p)
      case "json" | "jsonl" =>
        parted(compressed(df.write.mode("overwrite"))).json(p)
      case "xml" => compressed(df.write.mode("overwrite")
        .option("rowTag", options.getOrElse("rowtag", "row"))).xml(p)
      case ("csv" | "text") if partCols.nonEmpty =>
        throw CompileException(
          "partition_by requires a directory format (parquet/orc/json)")
      case "csv" | "text" => writeSingleCsv(df, p, options)
      case other => throw CompileException(
        s"unsupported COPY format '$other' (csv, parquet, orc, json, jsonl, xml)")
    }
  }

  /** Single-file CSV for reference parity (reference COPY TO writes one
    * file with header, _pandas.py:205-220). Spark writes a part-file per
    * partition; we coalesce(1) and move the part into place. On a real
    * cluster prefer `df.write.csv(dir)` — directory output, no single-node
    * bottleneck; this path exists for API/test parity at reference scale. */
  private def writeSingleCsv(df: DataFrame, path: String,
      options: Map[String, String]): Unit = {
    val tmp = Files.createTempDirectory("graft_copyto").toString + "/out"
    var w = df.coalesce(1).write.option("header", "true")
    for ((k, v) <- options) k match {
      case "delimiter" | "sep" => w = w.option("sep", v)
      case "header" => w = w.option("header", v)
      case "format" => ()
      case other => w = w.option(other, v)
    }
    w.csv(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      // ".csv.gz" etc. when a compression codec option is set
      .find(p => p.contains(".csv") && !p.endsWith(".crc"))
      .getOrElse(throw new IllegalStateException("no csv part written"))
    Files.move(Paths.get(part), Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }
}

object Executor {

  /** Split a multi-statement script on top-level semicolons. '' strings
    * and "" identifiers are respected, and so are `--` line comments and
    * `/* */` block comments — an apostrophe inside a comment must not
    * flip the string state (psql `-c "SELECT 1; -- don't"` is valid PG),
    * and a trailing comment-only fragment is dropped, not parsed.
    * Comment TEXT is preserved inside statements (the tokenizer skips it
    * there). Shared by [[Executor.executeScript]] and the wire server's
    * simple-query flow (psql `-c "a; b"` / `-f` send one string). */
  def splitStatements(script: String): Seq[String] = {
    val stmts = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inStr = false
    var inIdent = false
    var inLine = false // -- comment, to end of line
    var inBlock = false // /* comment */
    var i = 0
    val n = script.length
    while (i < n) {
      val c = script.charAt(i)
      val c2 = if (i + 1 < n) script.charAt(i + 1) else '\u0000'
      if (inLine) {
        if (c == '\n') inLine = false
        sb.append(c); i += 1
      } else if (inBlock) {
        if (c == '*' && c2 == '/') { inBlock = false; sb.append("*/"); i += 2 }
        else { sb.append(c); i += 1 }
      } else if (inStr) {
        if (c == '\'') inStr = false
        sb.append(c); i += 1
      } else if (inIdent) {
        if (c == '"') inIdent = false
        sb.append(c); i += 1
      } else if (c == '-' && c2 == '-') {
        inLine = true; sb.append("--"); i += 2
      } else if (c == '/' && c2 == '*') {
        inBlock = true; sb.append("/*"); i += 2
      } else if (c == '\'') { inStr = true; sb.append(c); i += 1 }
      else if (c == '"') { inIdent = true; sb.append(c); i += 1 }
      else if (c == ';') { stmts += sb.toString; sb.clear(); i += 1 }
      else { sb.append(c); i += 1 }
    }
    stmts += sb.toString
    stmts.result().map(_.trim).filter { s =>
      // drop empty and comment-only fragments ("SELECT 1; -- done")
      s.nonEmpty && !stripLeadingComments(s).isEmpty
    }
  }

  /** Strip leading whitespace + comments; empty result ⇒ comment-only. */
  private def stripLeadingComments(s0: String): String = {
    var s = s0.trim
    var changed = true
    while (changed) {
      changed = false
      if (s.startsWith("--")) {
        val nl = s.indexOf('\n')
        s = if (nl < 0) "" else s.substring(nl + 1).trim
        changed = true
      } else if (s.startsWith("/*")) {
        val e = s.indexOf("*/")
        s = if (e < 0) "" else s.substring(e + 2).trim
        changed = true
      }
    }
    s
  }

  /** ANALYZE stats sidecar (`_graft_stats.json` inside a directory
    * output): the leading underscore makes it invisible to Spark's file
    * readers, and `mode("overwrite")` rewrites of the directory delete
    * it with the stale data — exactly the invalidation wanted. */
  private[exec] def writeStatsSidecar(p: String,
      st: graft.compiler.TableStats): Unit = {
    val dir = Paths.get(p)
    if (Files.isDirectory(dir))
      Files.writeString(dir.resolve("_graft_stats.json"),
        s"""{"rows": ${st.rows}, "sizeBytes": ${st.sizeBytes}}""")
  }

  private[exec] def readStatsSidecar(
      p: String): Option[graft.compiler.TableStats] = {
    val f = Paths.get(p).resolve("_graft_stats.json")
    if (!Files.isRegularFile(f)) None
    else try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(f))
      Some(graft.compiler.TableStats(
        root.get("rows").asLong(), root.get("sizeBytes").asLong()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One-shot convenience ≅ reference `fq.execute(q, scope=...)`. */
  def execute(sql: String, scope: Map[String, DataFrame],
      spark: SparkSession): DataFrame =
    new Executor(spark, scope).query(sql)

  /** SQL-literal escape (reference util/_funcs.py:25-36): NULL, quoted
    * `''`-escaped strings, bare numeric/boolean literals. */
  def escape(v: Any): String = v match {
    case null | None => "NULL"
    case Some(x) => escape(x)
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double => d.toString
    case f: Float => f.toString
    case d: BigDecimal => d.toString
    case d: java.math.BigDecimal => d.toString
    case other => throw new IllegalArgumentException(
      s"cannot escape parameter of type ${other.getClass.getName}")
  }

  /** `%s` positional substitution with `%%` as a literal percent. */
  def substitute(sql: String, params: Seq[Any]): String = {
    val out = new StringBuilder
    var i = 0; var p = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '%' && i + 1 < sql.length) {
        sql.charAt(i + 1) match {
          case '%' => out.append('%'); i += 2
          case 's' =>
            if (p >= params.length)
              throw new IllegalArgumentException(
                s"not enough parameters: ${params.length} given")
            out.append(escape(params(p))); p += 1; i += 2
          case c => throw new IllegalArgumentException(
            s"unsupported placeholder %$c")
        }
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    if (p != params.length)
      throw new IllegalArgumentException(
        s"too many parameters: ${params.length} given, $p used")
    out.toString
  }

  /** `%(name)s` named substitution with `%%` as a literal percent. */
  def substituteNamed(sql: String, params: Map[String, Any]): String = {
    val ph = java.util.regex.Pattern.compile("%\\(([A-Za-z_][A-Za-z0-9_]*)\\)s")
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '%' && i + 1 < sql.length && sql.charAt(i + 1) == '%') {
        out.append('%'); i += 2
      } else if (sql.charAt(i) == '%') {
        val m = ph.matcher(sql)
        if (m.find(i) && m.start == i) {
          val name = m.group(1)
          val v = params.getOrElse(name,
            throw new IllegalArgumentException(s"missing parameter '$name'"))
          out.append(escape(v)); i = m.end
        } else throw new IllegalArgumentException(
          s"unsupported placeholder at position $i")
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }
}
