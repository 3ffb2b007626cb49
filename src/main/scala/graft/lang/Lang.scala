package graft.lang

/** Typed AST mirroring the reference language surface:
  * types (fiat2/src/fiat2/Language.v:4-15), expressions (:121-146), commands
  * (:210-217), with the operator sets of :70-111. This is the user-facing
  * language of the engine; `Compiler` lowers it to DataFrame/Column plans so
  * Catalyst — not hand-proved rewrites — performs the reference's §4.2
  * optimizations (pushdown, pruning, join selection).
  *
  * Value conventions (SURVEY.md §1.5): records = name-sorted structs; options
  * = nullable; nested lists/bags/sets = arrays (bags/sets canonically
  * sorted/deduped on observation); dicts = key-sorted entry arrays.
  */
object Lang {

  // --- Types (Language.v:4-15) ---
  sealed trait FType
  /** An elaboration hole — the analog of the reference's unannotated
    * `ANil None` / `ANone None` atoms (Language.v:55-68): `TypeCheck`'s
    * elaboration fills it (from an expected type, a sibling operand or a
    * comprehension's `ret` head); `synthesize` rejects it. */
  case object THole extends FType
  case object TWord extends FType
  case object TInt extends FType
  case object TBool extends FType
  case object TString extends FType
  case object TUnit extends FType
  final case class TOption(t: FType) extends FType
  final case class TList(t: FType) extends FType
  final case class TBag(t: FType) extends FType
  final case class TSet(t: FType) extends FType
  final case class TDict(kt: FType, vt: FType) extends FType
  /** Fields kept sorted by name (TypeSystem.v:97-100). */
  final case class TRecord(fields: List[(String, FType)]) extends FType
  object TRecord {
    def sorted(fields: (String, FType)*): TRecord =
      TRecord(fields.sortBy(_._1).toList)
  }

  // --- Collection tags (Language.v:114) ---
  sealed trait CollectionTag
  case object LikeList extends CollectionTag
  case object LikeBag extends CollectionTag
  case object LikeSet extends CollectionTag

  // --- Atoms (Language.v:55-68) ---
  sealed trait Atom
  final case class AWord(v: Long) extends Atom
  final case class AInt(v: Long) extends Atom
  final case class ABool(v: Boolean) extends Atom
  final case class AString(v: String) extends Atom
  // Typed empties: write `ANil()` etc. for the unannotated form
  // (reference `ANil None`); every entry point elaborates it.
  final case class ANil(t: FType = THole) extends Atom
  final case class ANone(t: FType = THole) extends Atom
  final case class AEmptyDict(kt: FType = THole, vt: FType = THole) extends Atom
  final case class AEmptyBag(t: FType = THole) extends Atom
  final case class AEmptySet(t: FType = THole) extends Atom
  case object AUnit extends Atom

  // --- Unary ops (Language.v:70-77) ---
  sealed trait Unop
  case object OWNeg extends Unop
  case object ONeg extends Unop
  case object ONot extends Unop
  case object OLength extends Unop
  case object OLengthString extends Unop
  case object OIntToString extends Unop
  case object OSome extends Unop

  // --- Binary ops (Language.v:80-107) ---
  sealed trait Binop
  case object OPlus extends Binop
  case object OMinus extends Binop
  case object OTimes extends Binop
  case object ODiv extends Binop // Z.div — floor (Interpret.v:147)
  case object OMod extends Binop // Z.modulo — divisor sign (Interpret.v:150)
  case object OAnd extends Binop
  case object OOr extends Binop
  case object OConcat extends Binop
  case object OConcatString extends Binop
  case object OLess extends Binop
  case object OEq extends Binop
  case object OCons extends Binop
  case object ORange extends Binop
  case object OBagInsert extends Binop
  case object OSetInsert extends Binop
  case object OLookup extends Binop
  case object ODelete extends Binop
  // Word variants (Language.v:80-107): TWord²→TWord machine-word ops with
  // two's-complement wrap and total unsigned/signed div/mod families
  // (semantics in Interpret.v:139-151 via coqutil `word`).
  case object OWPlus extends Binop
  case object OWMinus extends Binop
  case object OWTimes extends Binop
  case object OWRange extends Binop
  case object OWDivU extends Binop
  case object OWDivS extends Binop
  case object OWModU extends Binop
  case object OWModS extends Binop
  case object OWLessU extends Binop
  case object OWLessS extends Binop

  // --- Ternary op (Language.v:110-111) ---
  sealed trait Ternop
  case object OInsert extends Ternop

  // --- Aggregation classes (Language.v / TypeSystem.v:203-210) ---
  sealed trait AcAgg
  case object AGSum extends AcAgg
  case object AGCount extends AcAgg
  sealed trait AciAgg
  case object AGMin extends AciAgg
  case object AGMax extends AciAgg

  // --- Expressions (Language.v:121-146) ---
  sealed trait Expr
  final case class EVar(x: String) extends Expr
  final case class ELoc(x: String) extends Expr // mutable table read
  final case class EAtom(a: Atom) extends Expr
  final case class EUnop(op: Unop, e: Expr) extends Expr
  final case class EBinop(op: Binop, e1: Expr, e2: Expr) extends Expr
  final case class ETernop(op: Ternop, e1: Expr, e2: Expr, e3: Expr) extends Expr
  final case class EIf(c: Expr, t: Expr, e: Expr) extends Expr
  final case class ELet(e1: Expr, x: String, e2: Expr) extends Expr
  final case class ERecord(fields: List[(String, Expr)]) extends Expr
  final case class EAccess(r: Expr, field: String) extends Expr
  final case class EOptMatch(e: Expr, none: Expr, x: String, some: Expr) extends Expr
  final case class EDictFold(d: Expr, e0: Expr, k: String, v: String,
      acc: String, step: Expr) extends Expr
  final case class ESort(tag: CollectionTag, l: Expr) extends Expr
  final case class EFilter(tag: CollectionTag, l: Expr, x: String, p: Expr) extends Expr
  final case class EJoin(tag: CollectionTag, l1: Expr, l2: Expr, x: String,
      y: String, p: Expr, r: Expr) extends Expr
  final case class EProj(tag: CollectionTag, l: Expr, x: String, r: Expr) extends Expr
  final case class EFlatmap(tag: CollectionTag, e1: Expr, x: String, e2: Expr) extends Expr
  final case class EFlatmap2(e1: Expr, e2: Expr, x1: String, x2: String,
      e3: Expr) extends Expr
  final case class EFold(l: Expr, z: Expr, x: String, acc: String,
      step: Expr) extends Expr
  final case class EACFold(agg: AcAgg, e: Expr) extends Expr
  final case class EACIFold(agg: AciAgg, e: Expr) extends Expr
  final case class EBagOf(l: Expr) extends Expr
  final case class ESetOf(l: Expr) extends Expr

  // --- Commands (Language.v:210-217) ---
  sealed trait Command
  case object CSkip extends Command
  final case class CSeq(c1: Command, c2: Command) extends Command
  final case class CLet(e: Expr, x: String, c: Command) extends Command
  final case class CLetMut(e: Expr, x: String, c: Command) extends Command
  final case class CAssign(x: String, e: Expr) extends Command
  final case class CIf(e: Expr, c1: Command, c2: Command) extends Command
  final case class CForeach(e: Expr, x: String, c: Command) extends Command
}
