package graft.assemble

import scala.util.Try

import org.apache.spark.sql.Encoders

import graft.model._

/** One MRCONSO atom after SAB/LAT/SUPPRESS filtering — the fields of
  * the atom struct [[ConceptAssembler.assembled]] collects per code
  * (encoders resolve nested fields by name, so field order here is free). */
final case class AtomRow(
    aui: String, cui: String, stt: String, ispref: String,
    tty: String, str: String)

/** Intermediate grouped shape before prefLabel selection — the row type of
  * [[ConceptAssembler.assembled]]. */
final case class AssembledRaw(
    code: String,
    atoms: Seq[AtomRow],
    rels: Seq[RelOut],
    defs: Seq[String],
    atts: Seq[AttOut],
    tuis: Seq[String],
    isRoot: Boolean,
    treeParents: Seq[String])

/** The typed, row-at-a-time finishing step, kept as the test oracle for
  * the production columnar finish ([[ConceptAssembler.conceptsColumnsTry]]):
  * the same canonical atom order, prefLabel selection and sorted-distinct
  * arrays written as plain Scala over [[AssembledRaw]]. */
object TypedFinishOracle {

  /** Per-class finishing step: canonical atom order, prefLabel selection
    * (A7/A8), distinct sorted altLabels (A3/F16), sorted distinct CUIs/TUIs
    * (A5/A6). Pure function so the reference's class-level behavior tests
    * can exercise it without a cluster.
    */
  def finish(raw: AssembledRaw, rankByTty: Map[String, Int],
      loadOnCuis: Boolean): UmlsConceptRow = {
    def orEmpty[T](xs: Seq[T]): Seq[T] = if (xs == null) Nil else xs
    // Canonical intra-class order (determinism note on ConceptAssembler).
    val atomsSorted = raw.atoms.sortWith { (x, y) =>
      val c = x.aui.compareTo(y.aui)
      (if (c != 0) c else x.cui.compareTo(y.cui)) < 0
    }
    val pref = PrefLabel.select(atomsSorted, rankByTty, loadOnCuis)
    val alt = atomsSorted.map(_.str).distinct.filter(_ != pref).sorted
    val cuis = atomsSorted.map(_.cui).distinct.sorted
    UmlsConceptRow(
      code = raw.code,
      prefLabel = pref,
      altLabels = alt,
      defs = orEmpty(raw.defs),
      cuis = cuis,
      tuis = orEmpty(raw.tuis).sorted,
      atts = orEmpty(raw.atts),
      rels = orEmpty(raw.rels),
      isRoot = raw.isRoot,
      treeParents = orEmpty(raw.treeParents).sorted)
  }

  /** Per-code outcome of [[finish]] over `asm`'s grouped shape, collected:
    * the finished row, or the thrown message for a class that fails. */
  def outcomes(asm: ConceptAssembler, loadOnCuis: Boolean = false)
      : Map[String, Either[String, UmlsConceptRow]] = {
    val rankMap = asm.rankByTty
    asm.assembled().as(Encoders.product[AssembledRaw]).collect().map { r =>
      r.code -> Try(finish(r, rankMap, loadOnCuis)).toEither.left
        .map(_.getMessage)
    }.toMap
  }
}

/** `UmlsClass.getPrefLabel` (`umls2rdf.py:295-332`), ported branch-for-
  * branch. "First atom" means first in the canonical (AUI-sorted) order.
  */
object PrefLabel {

  def select(atoms: Seq[AtomRow], rankByTty: Map[String, Int],
      loadOnCuis: Boolean): String =
    if (loadOnCuis) cuisCascade(atoms) else codesRank(atoms, rankByTty)

  /** Codes mode: MRRANK argmax (A7); stable on canonical order for rank
    * ties. Empty MRRANK → require exactly one atom with 'P' in TTY (A9);
    * otherwise fail like the reference ("Unable to select pref label"). */
  private def codesRank(atoms: Seq[AtomRow],
      rankByTty: Map[String, Int]): String = {
    if (rankByTty.nonEmpty) {
      // Missing TTY in MRRANK raised KeyError in the reference; surface
      // the same condition as an explicit error.
      val ranked = atoms.map { a =>
        val r = rankByTty.getOrElse(a.tty,
          throw new IllegalStateException(s"TTY ${a.tty} not in MRRANK"))
        (r, a)
      }
      ranked.maxBy(_._1)(Ordering.Int)._2.str
    } else {
      val prefAtoms = atoms.filter(_.tty.contains("P"))
      if (prefAtoms.size == 1) prefAtoms.head.str
      else throw new IllegalStateException("Unable to select pref label")
    }
  }

  /** Cuis mode cascade (A8, `umls2rdf.py:296-319`). */
  private def cuisCascade(atoms: Seq[AtomRow]): String = {
    if (atoms.size == 1) return atoms.head.str
    val labels = atoms.map(_.str).distinct
    if (labels.size == 1) return labels.head
    val isPref = atoms.filter(_.ispref == "Y")
    if (isPref.isEmpty) return atoms.head.str
    if (isPref.size == 1) return isPref.head.str
    val prefPf = isPref.filter(_.stt == "PF")
    if (prefPf.isEmpty) return atoms.head.str
    if (prefPf.size == 1) return prefPf.head.str
    val ttyP = atoms.filter(a => a.tty.nonEmpty && a.tty.head == 'P')
    if (ttyP.size == 1) ttyP.head.str
    else atoms.head.str
  }
}
