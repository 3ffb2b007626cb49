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

  /** `keys` of `after` put back to what they were in `before` (removed
    * where `before` had none) — a scoped binder's restore on leaving. */
  private def restoreKeys[V](after: Map[String, V], before: Map[String, V],
      keys: Seq[String]): Map[String, V] =
    keys.foldLeft(after) { (acc, k) =>
      before.get(k).fold(acc - k)(v => acc + (k -> v))
    }

  /** Run a source command program, returning the final store: complete
    * `env`'s typing (`Compiler.typed`), elaborate and typecheck the
    * command against it — a mistyped program throws `TypeError` here,
    * before any Spark job — and interpret the elaborated command. */
  def run(c: Command, env: Env): Env = {
    val tenv = Compiler.typed(env)
    exec(TypeCheck.elaborateCommand(c, tenv.varTypes, tenv.storeTypes)._1,
      tenv)
  }

  /** Interpret an elaborated command in a typed env, such as the pair
    * `Optimize.transform` returns; every cell and binder it introduces is
    * bound with its type. */
  def exec(c: Command, env: Env): Env = c match {
    case CSkip => env
    case CSeq(c1, c2) => exec(c2, exec(c1, env))

    case CLet(e, x, body) => // immutable binding (Interpret.v:507-509)
      exec(body, env.bind(x, lowerProgram(e, env), synthLite(e, env)))
        .restoreVar(x, env)

    case CLetMut(e, x, body) => // scoped mutable cell (Interpret.v:510-513)
      val t = synthLite(e, env)
      lowerProgram(e, env) match {
        // a list/bag/set init is a TABLE cell (collections are tables in
        // this engine); any other value is a SCALAR cell
        case CV(c) if !(t.isInstanceOf[TList] || t.isInstanceOf[TBag] ||
            t.isInstanceOf[TSet]) =>
          // SCALAR cell (reference Ex_Survey.v:44-49)
          val after = exec(body, env.copy(
            scalars = env.scalars + (x -> folded(env, c)),
            storeTypes = env.storeTypes + (x -> t)))
          after.copy(
            scalars = restoreKeys(after.scalars, env.scalars, Seq(x)),
            storeTypes = restoreKeys(after.storeTypes, env.storeTypes, Seq(x)))
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
          val cleared = env.copy(scalars = env.scalars - x,
            indexes = env.indexes - x, compoIndexes = env.compoIndexes - x,
            storeTypes = env.storeTypes + (x -> t) ++ compNames.map(_ -> t))
          val bound = hintAttrs match {
            case Seq(a) =>
              val idx = graft.operators.DictIndex.build(df, a)
              cleared.copy(store = cleared.store + (x -> idx.keyed),
                indexes = cleared.indexes + (x -> idx))
            case attrs if attrs.length > 1 =>
              // the body's filters were routed to component cells; a
              // typechecked filter's attribute is one of the table's columns
              val compo = graft.operators.CompoIndex.build(df, attrs)
              cleared.copy(store = cleared.store + (x -> df) ++
                compNames.zip(attrs.map(compo.component(_).keyed)),
                compoIndexes = cleared.compoIndexes + (x -> compo))
            case _ => cleared.copy(store = cleared.store + (x -> df))
          }
          val after = exec(body, bound)
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
          // every namespace the table cell bound: its store entry, type and
          // composed components, and the scalar / index / composed-index
          // entries it shadowed
          after.copy(
            store = restoreKeys(after.store, env.store, x +: compNames),
            storeTypes = restoreKeys(after.storeTypes, env.storeTypes,
              x +: compNames),
            scalars = restoreKeys(after.scalars, env.scalars, Seq(x)),
            indexes = restoreKeys(after.indexes, env.indexes, Seq(x)),
            compoIndexes =
              restoreKeys(after.compoIndexes, env.compoIndexes, Seq(x)))
      }

    case CAssign(x, e) =>
      if (env.scalars.contains(x)) // existing scalar cell → scalar update
        env.copy(scalars = env.scalars + (x -> folded(env,
          asScalar(lowerProgram(e, env)))))
      else (env.indexes.get(x), env.compoIndexes.get(x),
          // `r1 :: … :: rn :: mut x`, the insert chain the passes match
          Rewrites.ConsChain.rowsOnto(e, x)) match {
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
        // dropped (correct, no longer incremental). A composed table is
        // never written this way (IndexTransf composes only tables whose
        // every write is an insert chain), so no component goes stale. A
        // table the program creates here gets its value's type.
        case _ =>
          env.copy(store = env.store + (x -> toDF(lowerProgram(e, env), env)),
            indexes = env.indexes - x, compoIndexes = env.compoIndexes - x,
            storeTypes = env.storeTypes + (x -> env.storeTypes.getOrElse(x,
              synthLite(e, env))))
      }

    case CIf(e, c1, c2) =>
      val cond = evalScalar(env, asScalar(lowerProgram(e, env)))
        .asInstanceOf[Boolean]
      exec(if (cond) c1 else c2, env)

    case CForeach(e, x, body) => // driver event loop (Interpret.v:519-523)
      // a row-free list (a literal, or built from loop-bound values) is
      // iterated on the driver; a table is collected
      val src = lowerProgram(e, env)
      val elemT = TypeCheck.elemOf(synthLite(e, env))
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
        exec(body, acc.bind(x, bound, elemT)).restoreVar(x, acc)
      }
  }

  /** Compile insert-chain rows into a delta DataFrame with `cols`: one
    * local relation when every row folds on the driver (the common case,
    * literal or loop-bound records), else a union of one-row plans. */
  private def deltaDF(rows: List[Expr], cols: Array[String],
      env: Env): DataFrame = {
    val plans = rows.map(r => Compiler.rowPlan(env.spark,
      Compiler.asScalar(lowerProgram(r, env)), cols))
    Compiler.localUnion(plans).getOrElse(plans.reduce(_ union _))
  }

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
}
