package graft.lang

/** The reference's WHOLE optimization pipeline as one driver — the analog
  * of `ex_transf` (fiat2/src/fiat2/CombIdxEx.v:55-68,
  * fiat2/src/fiat2/ParamPipelineEx.v:125-166) and the `OptimizeAnno.v`
  * whole-pipeline composition (SURVEY.md §3.1): relational recognition
  * (to_join / to_filter / to_proj), collection-kind annotation
  * (annotate_collection + push_down_collection), then the index-related
  * transforms — incremental sum/min aggregate maintenance (SumAgg / MinAgg)
  * and point-filter index introduction (DictIndexImpl / compo_idx) — in
  * the reference's order.
  *
  * Like the reference (whose transforms carry proofs, not cost models),
  * this driver applies the aggregate/index transforms UNCONDITIONALLY, and
  * it is the only path that runs them. The bitmap introduction alone keeps
  * a loop condition, because a bitmap is a new artifact rather than a
  * re-keying of existing data (`IndexTransf.introduceBitmaps`). Filter
  * pushdown — `filter_pushdown_transf` in the reference pipeline — is
  * deliberately absent: the compiled plan is declarative and
  * Catalyst's PushDownPredicates does it (plan-asserted in
  * PlanQualitySpec; SURVEY.md §4.2).
  */
object Optimize {
  import Lang._
  import Compiler.Env

  /** Typecheck a command, transform it and prime the environment, without
    * running. The command is elaborated against `env`'s typing
    * (`Compiler.typed`) first, so a mistyped program throws `TypeError`
    * before any Spark job. Every pass keeps the program's type (fiat2's
    * `preserve_ty`), and the passes that introduce cells add their types
    * to the env they return: the transformed command typechecks in it. */
  def transform(c: Command, env: Env): (Command, Env) = {
    val tenv = Compiler.typed(env)
    val typed = TypeCheck.elaborateCommand(c, tenv.varTypes, tenv.storeTypes)._1
    val recognized = Rewrites.normalizeCommand(typed)
    val annotated = Rewrites.mapExprs(recognized)(CollectionTransf.annotate)
    // CLetMut-scoped tables first (pure source rewrite, cells as nested
    // scalar bindings), then store-bound tables (all of a table's cells
    // primed by one aggregation row), then index introduction
    val scoped = IvmTransf.transformScoped(annotated)
    val (ivmed, primed) = IvmTransf.transform(scoped, tenv)
    val (indexed, idxEnv) = IndexTransf.transform(ivmed, primed)
    // The reference's Optimize.v column family LAST: proj/filter fusion
    // (proj_proj / efilter_efilter / filter_into_join / proj_into_join)
    // then schema-aware early narrowing (proj_pushdown_left/right/filter)
    // against the store's actual field sets. After the index transforms so
    // the eq-filter shapes those passes pattern-match are still intact.
    val fused = Pruning.fuseCommand(indexed)
    val narrowed = Pruning.narrow(fused,
      t => idxEnv.store.get(t).map(_.columns.toSeq))
    (narrowed, idxEnv)
  }

  /** Typecheck, optimize, then interpret — the reference lifecycle's
    * entry point A (typecheck → optimize → interp_command, SURVEY.md
    * §3.1). The program is typechecked once, by `transform`. */
  def run(c: Command, env: Env): Env = {
    val (cmd, primed) = transform(c, env)
    Interp.exec(cmd, primed)
  }
}
