package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, get, lit, transform}

/** Column-level utilities shared across the operator library. */
private[graft] object ColumnUtil {

  /** LET-BINDING for Column expressions: binds `value` to a lambda
    * variable so `body` can reference it many times while it is
    * COMPUTED ONCE per row. Catalyst's CollapseProject/column pruning
    * re-inline a projected alias into every use site (an expensive
    * expression used w times runs w times — measured 5× on winnowing,
    * ~4× on quantized cosine), but a lambda variable is opaque to the
    * optimizer: `transform` over a 1-element array evaluates `value`
    * once and the body against the bound element.
    *
    * THE one implementation — Dedup/TextAnalysis/Similarity/Pq/Html all
    * import this, so a future Catalyst change that breaks the
    * array-wrapper trick is fixed in one place.
    */
  def bindOnce(value: Column, body: Column => Column): Column =
    get(transform(array(value), body), lit(0))

  /** Evaluate an expensive (usually struct) column exactly ONCE per row
    * by projecting it through `explode(array(...))` — a Generate.
    * CollapseProject re-inlines a plain alias into EVERY downstream
    * field extraction, and predicate pushdown substitutes the full
    * expression tree into pushed filters (a corpus-filter plan
    * audit found the fused signals struct inlined 4× per scanned row
    * this way — and HOF expressions are CodegenFallback, so no
    * whole-stage CSE rescues the copies). Neither rewrite crosses a
    * generator boundary: filters and field extractions on the generated
    * attribute stay ABOVE the Generate, so the tree evaluates once.
    * Rows are preserved (the array literal always has one element; a
    * null struct yields one row with a null element, not a dropped
    * row). Complements [[bindOnce]], which only covers reuse WITHIN one
    * expression tree.
    */
  def explodeOnce(value: Column): Column =
    org.apache.spark.sql.functions.explode(array(value))
}
