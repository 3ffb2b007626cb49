package graft.lang

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}

/** Driver-side interpreter for the command layer
  * (fiat2/src/fiat2/Interpret.v:501-524): commands sequence table mutations;
  * every table-valued expression inside them compiles to a distributed plan
  * via `Compiler`. `CForeach` brings the (small) iteration list to the
  * driver and loops — the reference's event-loop idiom (SURVEY.md §2.11) —
  * while per-iteration work stays distributed. Row-free values (a literal
  * list, a scalar cell's update, an insert chain's rows) are evaluated on
  * the driver (`Compiler.driverRow`): only reads of table data run jobs.
  */
object Interp {
  import Lang._
  import Compiler._

  /** Run a command, returning the final store. */
  def run(c: Command, env: Env): Env = c match {
    case CSkip => env
    case CSeq(c1, c2) => run(c2, run(c1, env))

    case CLet(e, x, body) => // immutable binding (Interpret.v:507-509)
      val saved = env.vars.get(x)
      val after = run(body, env.bind(x, compileProgram(e, env)))
      saved match {
        case Some(v) => after.bind(x, v)
        case None => after.copy(vars = after.vars - x)
      }

    case CLetMut(e, x, body) => // scoped mutable cell (Interpret.v:510-513)
      compileProgram(e, env) match {
        // an array-typed init is a TABLE cell (lists/bags are tables in
        // this engine); everything else CV is a SCALAR cell
        case CV(c) if !isArrayTyped(env, c) =>
          // SCALAR cell (reference Ex_Survey.v:44-49)
          val saved = env.scalars.get(x)
          val after = run(body,
            env.copy(scalars = env.scalars + (x -> folded(env, c))))
          saved match {
            case Some(old) => after.copy(scalars = after.scalars + (x -> old))
            case None => after.copy(scalars = after.scalars - x)
          }
        case tv => // table cell
          // shadow a same-named outer SCALAR cell too: ELoc resolution and
          // CAssign both consult env.scalars first, so leaving it bound would
          // make the inner table cell invisible to the body. Index handles
          // are likewise shadowed and restored — unless this binder carries
          // a SCOPED index annotation (IndexTransf.transformScoped), in
          // which case the cell binds as its keyed index (the reference's
          // transf_to_idx under the letmut, OptimizeAnno.v:282-288) and the
          // body's chain inserts maintain it through the CAssign paths.
          val df = toDF(tv, env)
          val hintAttrs = env.indexHints.getOrElse(x, Seq.empty)
          val compNames = hintAttrs.map(IndexTransf.componentName(x, _))
          val savedStore = (x +: compNames).map(n => n -> env.store.get(n))
          val savedScalar = env.scalars.get(x)
          val savedIdx = env.indexes.get(x)
          val savedCompo = env.compoIndexes.get(x)
          val cleared = env.copy(scalars = env.scalars - x,
            indexes = env.indexes - x, compoIndexes = env.compoIndexes - x)
          val bound = hintAttrs match {
            case Seq(a) if df.columns.contains(a) =>
              val idx = graft.operators.DictIndex.build(df, a)
              cleared.copy(store = cleared.store + (x -> idx.keyed),
                indexes = cleared.indexes + (x -> idx))
            case attrs if attrs.length > 1 =>
              // the body's filters were routed to component cells, so the
              // cells must bind regardless; keyed when the attribute exists
              // in the runtime schema, the plain table otherwise
              if (attrs.forall(df.columns.contains)) {
                val compo = graft.operators.CompoIndex.build(df, attrs)
                cleared.copy(store = cleared.store + (x -> df) ++
                  attrs.map(a => IndexTransf.componentName(x, a) ->
                    compo.component(a).keyed),
                  compoIndexes = cleared.compoIndexes + (x -> compo))
              } else cleared.copy(store = cleared.store + (x -> df) ++
                compNames.map(_ -> df))
            case _ => cleared.copy(store = cleared.store + (x -> df))
          }
          val after = run(body, bound)
          // release the scope's index caches: the cells are unreachable
          // after restore, and a hint-annotated CLetMut inside a loop
          // would otherwise accumulate one cached build per iteration.
          // (Only hinted binders — a plain cell can alias an OUTER
          // DataFrame, e.g. `CLetMut(ELoc(outer), x, …)`, whose cache
          // must survive. An evolved handle releases the base cache it
          // shares with `bound` and any delta it cached itself.)
          if (hintAttrs.nonEmpty) {
            for (e <- Seq(bound, after)) {
              e.indexes.get(x).foreach(_.unpersist())
              e.compoIndexes.get(x).foreach(_.unpersist())
            }
          }
          val restored = savedStore.foldLeft(after) { case (acc, (n, old)) =>
            old match {
              case Some(d) => acc.copy(store = acc.store + (n -> d))
              case None => acc.copy(store = acc.store - n)
            }
          }
          val restored2 = savedScalar match {
            case Some(old) =>
              restored.copy(scalars = restored.scalars + (x -> old))
            case None => restored.copy(scalars = restored.scalars - x)
          }
          val restored3 = savedIdx match {
            case Some(idx) =>
              restored2.copy(indexes = restored2.indexes + (x -> idx))
            case None => restored2.copy(indexes = restored2.indexes - x)
          }
          savedCompo match {
            case Some(ci) => restored3.copy(
              compoIndexes = restored3.compoIndexes + (x -> ci))
            case None => restored3.copy(
              compoIndexes = restored3.compoIndexes - x)
          }
      }

    case CAssign(x, e) =>
      if (env.scalars.contains(x)) // existing scalar cell → scalar update
        compileProgram(e, env) match {
          case CV(c) => env.copy(scalars = env.scalars + (x -> folded(env, c)))
          case TV(_) => throw TypeCheck.TypeError(
            s"table assigned to scalar cell $x")
        }
      else (env.indexes.get(x), env.compoIndexes.get(x),
          consChainRows(e, x)) match {
        // cons-chain INSERT into an INDEXED table: maintain the keyed index
        // incrementally (the reference's cons_to_insert_head + use_idx_head
        // composition, fiat2/src/fiat2/DictIndexImpl.v:571-590,:767-776) —
        // the delta rows are lazily unioned (a driver-built local relation
        // when they fold); the base cache is never recomputed, and later
        // point filters still prune it by key.
        case (Some(idx), _, Some(rows)) =>
          val idx2 = idx.insert(deltaDF(rows, idx.keyed.columns, env))
          env.copy(store = env.store + (x -> idx2.keyed),
            indexes = env.indexes + (x -> idx2))
        // cons-chain INSERT into a COMPOSED table: ONE delta updates EVERY
        // component (compo_idx_wf, fiat2/src/fiat2/IndexTransf.v:32-50) and
        // the base entry, so routed filters keep reading fresh keyed caches.
        // The base entry reuses the same delta (prepended, cons semantics)
        // instead of re-compiling the chain onto the old plan.
        case (_, Some(compo), Some(rows)) =>
          val base = env.store(x)
          val delta = deltaDF(rows, base.columns, env)
          val compo2 = compo.insert(delta)
          val compEntries = compo2.components.map { case (a, d) =>
            IndexTransf.componentName(x, a) -> d.keyed }
          env.copy(
            store = env.store ++ compEntries + (x -> delta.union(base)),
            compoIndexes = env.compoIndexes + (x -> compo2))
        // any other write shape: the entry is replaced and the index handles
        // dropped (correct, no longer incremental)
        case _ =>
          val newDf = toDF(compileProgram(e, env), env)
          val base = env.copy(store = env.store + (x -> newDf),
            indexes = env.indexes - x, compoIndexes = env.compoIndexes - x)
          // DEGRADED scoped components — the binder was hint-annotated and
          // its filters routed, but no CompoIndex handle exists (some
          // hinted attribute was absent from the runtime schema, or an
          // earlier non-chain write dropped it). Routed filters read the
          // component cells, so EVERY write must re-point them at the new
          // value or they'd serve a stale snapshot.
          val comps = env.indexHints.getOrElse(x, Seq.empty)
            .map(IndexTransf.componentName(x, _))
            .filter(base.store.contains)
          base.copy(store = base.store ++ comps.map(_ -> newDf))
      }

    case CIf(e, c1, c2) =>
      val cond = evalScalar(env, asBoolCol(compileProgram(e, env)))
        .asInstanceOf[Boolean]
      run(if (cond) c1 else c2, env)

    case CForeach(e, x, body) => // driver event loop (Interpret.v:519-523)
      // a row-free list (a literal, or built from loop-bound values) is
      // iterated on the driver; a table is collected
      val src = compileProgram(e, env)
      val (schema, rows) = (src match {
        case CV(c) => Compiler.driverTable(env, c)
        case TV(_) => None
      }).getOrElse {
        val df = toDF(src, env)
        (df.schema, df.collect().toSeq)
      }
      val cols = schema.fieldNames.sorted
      // Iteration order is PLAN order: the reference iterates the stored
      // LIST in list order (Interpret.v:519-523), and the event-loop
      // tables this construct serves are driver-maintained cons-chain
      // unions whose plan order IS that list order (consRow prepends).
      // Canonically re-sorting here would diverge from the reference on
      // any order-dependent body (pinned by IvmTransfSpec's loop tests
      // and the command differential); a table WITHOUT meaningful
      // construction order (a shuffled scan) makes the loop body's
      // observation order unspecified, exactly like the reference's
      // unspecified list order for such a table.
      rows.foldLeft(env) { (acc, row) =>
        val bound = CV(Compiler.rowLiteral(row, schema, cols))
        // x is scoped to the body; restore afterwards
        val after = run(body, acc.bind(x, bound))
        acc.vars.get(x) match {
          case Some(v) => after.bind(x, v)
          case None => after.copy(vars = after.vars - x)
        }
      }
  }

  /** `r1 :: … :: rn :: mut t` — the shared insert-chain shape (the same
    * matcher the static passes use, Rewrites.ConsChain). */
  private def consChainRows(e: Expr, t: String): Option[List[Expr]] =
    Rewrites.ConsChain.rowsOnto(e, t)

  /** Compile insert-chain rows into a delta DataFrame with `cols`: one
    * local relation when every row folds on the driver (the common case,
    * literal or loop-bound records), else a union of one-row plans. */
  private def deltaDF(rows: List[Expr], cols: Array[String],
      env: Env): DataFrame = {
    val plans = rows.map(r => Compiler.rowPlan(env.spark,
      Compiler.asScalar(compileProgram(r, env)), cols))
    Compiler.localUnion(plans).getOrElse(plans.reduce(_ union _))
  }

  private def asBoolCol(v: Val) = v match {
    case CV(c) => c
    case TV(_) => throw TypeCheck.TypeError("table used as condition")
  }

  private def isArrayTyped(env: Env, c: Column): Boolean =
    env.spark.range(1).select(c.as("__v")).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]

  /** Constant-fold a scalar-cell value on the driver (no job, no optimizer
    * round): a loop like `set acc := mut acc +++ line` over literal row
    * values would otherwise grow an expression tree one node per
    * iteration — folding keeps each cell a single Literal, the
    * driver-state analog of the reference's eager store update
    * (Interpret.v:514). This covers the maintained IVM cells' bumps
    * (`cell + row.attr` is `Fiat2.checkedAdd`, a `try_add` call that only
    * analysis resolves). Values that do not fold (they reference live
    * table data, or their evaluation raises) stay symbolic, so an error
    * surfaces where the cell is read. */
  private def folded(env: Env, c: Column): Column =
    try Compiler.driverRow(Compiler.oneRow(env.spark).select(c.as("__v")))
      .map(l => GraftBridge.column(l.head)).getOrElse(c)
    catch { case scala.util.control.NonFatal(_) => c }

  /** Materialize an expression result as a table DataFrame. */
  def toDF(v: Val, env: Env): DataFrame = Compiler.toDF(v, env)
}
