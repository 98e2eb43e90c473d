package graft.compile

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonToken
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetArrayItem, Literal => CLit}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-parse fusion of lowered JMESPath expression trees (round-6 verdict
  * item #3): a lowered gate+value tree like `k >= \`50\` && k` scans the
  * document once per [[JsonPathRaw]]/[[JsonPathValue]]/[[JsonIsValid]] term —
  * 3-4 independent Jackson passes per record on the CLI `-filter` hot path.
  * [[ScanFusion.fuse]] rewrites such a tree so that ALL plain path scans (and
  * the parse-validity probe) come from ONE streaming pass over the document
  * ([[JsonFusedEval]]), with the rewritten tree evaluating against the
  * extracted slots.
  *
  * The reference parses each record exactly once (main.go:89-90); this
  * restores that property for the lowered engine while keeping per-term
  * exactness (each slot holds precisely what JsonPathRaw.extract would have
  * returned for that path). Fusion pays at every measured document width:
  * on ~100 B documents the fused scan beat both the interpreter and the
  * unfused lowered scans (round 8, 2M in-memory documents, min-of-7).
  */
object ScanFusion {

  /** Rewrite `tree` (a lowered expression over the document expression `doc`)
    * to extract all its plain path scans in one pass and evaluate each
    * DISTINCT function call once. Returns the tree unchanged when fewer than
    * two scans would be fused (nothing to share).
    *
    * Slot row layout seen by the rewritten template:
    * ordinal 0 = the document string, ordinal 1 = array<string> of path scan
    * results (one per distinct path, plus "1" in the validity slot when the
    * document parses), ordinals 2.. = one typed result per distinct
    * (function call, mode) — a lowered gate+value pair like
    * `length(tags) > \`2\` && name` references the same call up to 6 times
    * (NaN guard, comparison, truthiness, value emission…); here it runs ONCE
    * per record, with its path arguments resolved from the shared scan
    * (zero extra document traversals). */
  def fuse(doc: Expression, tree: Expression): Expression = {
    val docRef = BoundReference(0, StringType, nullable = true)
    val scanRef = BoundReference(1, ArrayType(StringType, containsNull = true), nullable = false)
    val slots = mutable.LinkedHashMap[Option[Seq[PathStep]], Int]()
    val comp = mutable.LinkedHashMap[ComputedSlot, Int]()
    def slotOf(key: Option[Seq[PathStep]]): Int = slots.getOrElseUpdate(key, slots.size)
    def item(key: Option[Seq[PathStep]]): Expression =
      GetArrayItem(scanRef, CLit(slotOf(key), IntegerType))
    def registerFnPaths(c: FnCallIR): Unit = c.args.foreach {
      case FnPathArg(steps) => slotOf(Some(steps))
      case FnNestedArg(n)   => registerFnPaths(n)
      case _                => ()
    }
    def compRef(s: ComputedSlot): Expression = {
      val idx = comp.getOrElseUpdate(s, comp.size)
      BoundReference(2 + idx, JsonFunctionEval.dataTypeOf(s.mode),
        nullable = s.mode != JsonFunctionEval.Truthy)
    }
    var scans = 0

    val replaced = tree.transformUp {
      case JsonPathRaw(d, steps) if d.semanticEquals(doc) =>
        scans += 1; item(Some(steps))
      case JsonPathValue(d, steps) if d.semanticEquals(doc) =>
        scans += 1; JsonValueOfRaw(item(Some(steps)))
      case JsonIsValid(d) if d.semanticEquals(doc) =>
        scans += 1
        org.apache.spark.sql.catalyst.expressions.IsNotNull(item(None))
      case JsonFunctionEval(d, call, mode) if d.semanticEquals(doc) =>
        scans += 1
        registerFnPaths(call)
        compRef(FnSlot(call, mode))
      case JsonSubInterp(d, prefix, residual, mode) if d.semanticEquals(doc) =>
        scans += 1
        slotOf(Some(prefix))
        compRef(SubSlot(prefix, residual, mode))
    }
    if (scans < 2) return tree
    val template = replaced.transformUp {
      case e if e.semanticEquals(doc) => docRef
    }
    JsonFusedEval(doc, slots.keys.toSeq, comp.keys.toSeq, template)
  }

  // --- one-pass multi-path extraction -----------------------------------

  /** Trie over path steps; a node's terminals are the output slots whose path
    * ends here (`residual` non-empty when a negative array index stopped the
    * trie descent — the captured subtree is post-navigated per-slot). */
  private[compile] final class Node {
    val fields = mutable.HashMap[String, Node]()
    val indices = mutable.HashMap[Int, Node]()
    val terminals = mutable.ArrayBuffer[(Int, Seq[PathStep])]()
  }

  private[compile] def buildTrie(paths: Seq[Option[Seq[PathStep]]]): (Node, Int) = {
    val root = new Node
    var validity = -1
    paths.zipWithIndex.foreach {
      case (None, slot) => validity = slot
      case (Some(steps), slot) =>
        var node = root
        var i = 0
        var stopped = false
        while (i < steps.length && !stopped) {
          steps(i) match {
            case FieldStep(name)        => node = node.fields.getOrElseUpdate(name, new Node)
            case IndexStep(j) if j >= 0 => node = node.indices.getOrElseUpdate(j, new Node)
            case IndexStep(_)           => stopped = true // negative: capture here, post-navigate
          }
          if (!stopped) i += 1
        }
        node.terminals += ((slot, steps.drop(i)))
    }
    (root, validity)
  }

  private def clearOutputs(node: Node, out: Array[Any]): Unit = {
    node.terminals.foreach { case (slot, _) => out(slot) = null }
    node.fields.valuesIterator.foreach(clearOutputs(_, out))
    node.indices.valuesIterator.foreach(clearOutputs(_, out))
  }

  private type Gens = mutable.ArrayBuffer[com.fasterxml.jackson.core.JsonGenerator]

  private def copyEvent(p: com.fasterxml.jackson.core.JsonParser, gens: Gens): Unit = {
    var i = 0
    while (i < gens.length) { gens(i).copyCurrentEvent(p); i += 1 }
  }

  /** Consume the value starting at the parser's current token, feeding every
    * open capture generator and starting/closing captures at trie nodes.
    * Duplicate object keys re-entering a trie node first CLEAR the outputs
    * beneath it, reproducing extract()'s last-occurrence-wins at every level. */
  private def walk(p: com.fasterxml.jackson.core.JsonParser, node: Node,
                   gens: Gens, out: Array[Any]): Unit = {
    var myPooled: CapturePool.Pooled = null
    val capture = node != null && node.terminals.nonEmpty
    val isNullValue = p.currentToken() == JsonToken.VALUE_NULL
    if (capture) {
      myPooled = CapturePool.acquire()
      gens += myPooled.gen
    }
    p.currentToken() match {
      case JsonToken.START_OBJECT =>
        copyEvent(p, gens)
        var ft = p.nextToken()
        while (ft == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          copyEvent(p, gens)
          p.nextToken() // onto the value
          val child = if (node != null) node.fields.getOrElse(name, null) else null
          if (child != null) { clearOutputs(child, out); walk(p, child, gens, out) }
          else if (gens.nonEmpty) walk(p, null, gens, out)
          else p.skipChildren()
          ft = p.nextToken()
        }
        copyEvent(p, gens) // END_OBJECT
      case JsonToken.START_ARRAY =>
        copyEvent(p, gens)
        var idx = 0
        var vt = p.nextToken()
        while (vt != JsonToken.END_ARRAY) {
          val child = if (node != null) node.indices.getOrElse(idx, null) else null
          if (child != null) { clearOutputs(child, out); walk(p, child, gens, out) }
          else if (gens.nonEmpty) walk(p, null, gens, out)
          else p.skipChildren()
          idx += 1
          vt = p.nextToken()
        }
        copyEvent(p, gens) // END_ARRAY
      case _ =>
        copyEvent(p, gens) // scalar
    }
    if (capture) {
      gens.remove(gens.length - 1) // nested captures close stack-wise
      val raw = CapturePool.finish(myPooled)
      CapturePool.release(myPooled) // raw is an immutable snapshot
      node.terminals.foreach { case (slot, residual) =>
        out(slot) =
          if (residual.isEmpty) {
            if (isNullValue) null else UTF8String.fromString(raw)
          } else {
            val r = JsonPathRaw.extract(raw, residual)
            if (r == null) null else UTF8String.fromString(r)
          }
      }
    }
  }

  /** All paths extracted in one streaming pass; the validity slot (if any)
    * holds "1" iff the document parsed. A malformed document yields all-null
    * (extract() per path would also have returned null for each). */
  private[compile] def extractAll(doc: UTF8String, root: Node, nSlots: Int,
                                  validitySlot: Int): Array[Any] = {
    val out = new Array[Any](nSlots)
    try {
      val p = JsonPathRaw.factory.createParser(doc.getBytes)
      try {
        val t = p.nextToken()
        if (t == null) return new Array[Any](nSlots) // empty input: invalid
        walk(p, root, new mutable.ArrayBuffer[com.fasterxml.jackson.core.JsonGenerator](4), out)
      } finally p.close()
      if (validitySlot >= 0) out(validitySlot) = UTF8String.fromString("1")
      out
    } catch {
      case _: Exception => new Array[Any](nSlots)
    }
  }
}

/** Engine-output convention ([[ValueEmit.fromRaw]]) applied to an ALREADY
  * EXTRACTED raw JSON subtree — the fused twin of [[JsonPathValue]], fed from
  * a shared scan slot instead of re-navigating the document. */
case class JsonValueOfRaw(child: Expression)
    extends JsonComputeExpr {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_value_of_raw"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING input, got ${child.dataType.sql}")
  override def compute(doc: UTF8String): Any = {
    if (doc == null) return null
    val out = ValueEmit.fromRaw(doc.toString) // already-extracted small subtree
    if (out == null) null else UTF8String.fromString(out)
  }
  override protected def withNewChildInternal(newChild: Expression): JsonValueOfRaw =
    copy(child = newChild)
}

/** A per-record computed result riding the fused scan row at
  * `ordinal 2 + index`: a lowered function call or a prefix-streamed
  * residual interpretation, in one of the three output modes. */
sealed trait ComputedSlot { def mode: String }
final case class FnSlot(call: FnCallIR, mode: String) extends ComputedSlot
final case class SubSlot(prefix: Seq[PathStep], residual: graft.jmespath.Ast,
                         mode: String) extends ComputedSlot

/** One-pass evaluation of a fused lowered tree: extracts every path slot (and
  * the validity probe) from the document in a single streaming traversal,
  * evaluates each distinct computed slot once — function calls and residual
  * interpretations, with their path arguments/prefixes resolved from the
  * shared scan, and each distinct call/residual evaluated ONCE across all
  * its requested output modes — then evaluates the rewritten template
  * against the slot row (ordinal 0 = document, ordinal 1 = array of path
  * slot strings, ordinals 2.. = computed results).
  *
  * `template` is deliberately NOT a child expression: it references the
  * internal slot row via BoundReference, so analyzer/optimizer expression
  * rules (which traverse children only) never see or rewrite it. */
case class JsonFusedEval(child: Expression, paths: Seq[Option[Seq[PathStep]]],
                         computed: Seq[ComputedSlot],
                         template: Expression)
    extends JsonComputeExpr {
  override def dataType: DataType = template.dataType
  override def nullable: Boolean = template.nullable
  override def prettyName: String = "json_fused"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING (JSON) input, got ${child.dataType.sql}")

  @transient private lazy val (trieRoot, validitySlot) = ScanFusion.buildTrie(paths)
  @transient private lazy val slotIndex: Map[Seq[PathStep], Int] =
    paths.zipWithIndex.collect { case (Some(p), i) => p -> i }.toMap

  // the template must see a NULL document (slots all null) rather than a
  // null-in/null-out shortcut: the lowered tree's own IsNull(doc) arms
  // decide the result
  override def compute(doc: UTF8String): Any = {
    val slots: Array[Any] =
      if (doc == null) new Array[Any](paths.length)
      else ScanFusion.extractAll(doc, trieRoot, paths.length, validitySlot)
    val row = new Array[Any](2 + computed.length)
    row(0) = doc
    row(1) = new GenericArrayData(slots)
    if (computed.nonEmpty) {
      // every FnPathArg path / subinterp prefix was registered as a scan
      // slot at fuse() time, so resolution is a slot lookup — no extra doc
      // traversal
      val resolve: Seq[PathStep] => String =
        if (doc == null) null
        else steps => slotIndex.get(steps) match {
          case Some(i) => val v = slots(i); if (v == null) null else v.toString
          case None    => JsonPathRaw.extractU8Raw(doc, steps) // defensive
        }
      // a gate+value pair references the same call/residual in up to three
      // modes (truthy / double / value): evaluate each ONCE and project the
      // modes from the shared JValue result
      val cache = new mutable.HashMap[Any, graft.jmespath.JValue]()
      var i = 0
      computed.foreach { slot =>
        row(2 + i) = slot match {
          case FnSlot(call, mode) =>
            if (resolve == null) JsonFunctionEval.runResolved(call, mode, null)
            else JsonFunctionEval.convert(
              cache.getOrElseUpdate(call,
                try FnCallIR.evalResolved(call, resolve)
                catch { case _: graft.jmespath.JmesRuntimeError => graft.jmespath.JNull }),
              mode)
          case SubSlot(prefix, residual, mode) =>
            if (resolve == null) JsonSubInterp.run(prefix, residual, mode, null)
            else JsonFunctionEval.convert(
              cache.getOrElseUpdate((prefix, residual),
                JsonSubInterp.evalCtx(prefix, residual, resolve)),
              mode)
        }
        i += 1
      }
    }
    template.eval(new GenericInternalRow(row))
  }

  override protected def withNewChildInternal(newChild: Expression): JsonFusedEval =
    copy(child = newChild)
}
