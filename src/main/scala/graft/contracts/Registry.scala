package graft.contracts

import scala.collection.immutable.ListMap

/** Contract registry + documentation layer — the engine analog of the
  * reference's `documentationTable` / `documentModule` / `documentType`
  * / `publish` surface (contract.impl.js:770-846): named contracts with
  * docs and categories, uniqueness-checked registration, a `publish`
  * that verifies every declared name is actually implemented (missing
  * implementation ⇒ library error, :830-835), and manifest emission so
  * every validation run records exactly which contract versions it
  * enforced (SURVEY.md §3.3: the "catalog" analog).
  */
final class ContractRegistry(val module: String) {

  case class Entry(name: String, contract: Contract, doc: String,
                   category: String, returns: Option[Contract] = None,
                   inputs: Seq[Contract] = Nil,
                   extra: Option[Contract] = None,
                   inputNames: Seq[String] = Nil,
                   thisC: Option[Contract] = None,
                   isMethod: Boolean = false)

  private var entries: ListMap[String, Entry] = ListMap.empty
  private var categories: ListMap[String, String] = ListMap.empty
  private var currentCategory: String = ""
  private val builtins = Set("any", "nothing", "string", "number",
    "integer", "bool", "date", "falsy", "truthy")

  /** `documentCategory` (contract.impl.js:797-805): sets the category
    * applied to SUBSEQUENT registrations that don't name one, and
    * records the category's own doc line. */
  def documentCategory(category: String, doc: String = ""): this.type = {
    currentCategory = category
    categories += category -> doc
    this
  }

  def categoryDocs: ListMap[String, String] = categories

  /** register a named contract; rejects built-in names and duplicates
    * (documentType guards, contract.impl.js:809-822). An empty
    * `category` inherits the current [[documentCategory]]. */
  def register(name: String, contract: Contract, doc: String = "",
               category: String = ""): this.type = {
    if (builtins(name))
      throw new ContractLibraryError(
        s"cannot shadow built-in contract `$name`")
    if (entries.contains(name))
      throw new ContractLibraryError(s"duplicate contract `$name`")
    val cat = if (category.nonEmpty) category else currentCategory
    entries += name -> Entry(name, contract, doc, cat)
    this
  }

  /** register a MULTI-INPUT member — the arity-window analog of the
    * reference's `c.fn(argC, …)` function contracts
    * (function-contracts.js:28-67, :370-373): one contract per input
    * frame, where trailing inputs may be `optional(...)` (the call may
    * omit them). A non-optional input after an optional one is rejected
    * at registration with the reference's exact wording — including its
    * own `th`-for-every-index quirk (checkOptionalArgumentFormals,
    * function-contracts.js:13-27). */
  def registerMulti(name: String, inputs: Seq[Contract],
                    doc: String = "", category: String = ""): this.type = {
    var optionalsSeen = false
    inputs.zipWithIndex.foreach { case (c, i) =>
      val isOpt = c.isInstanceOf[OptionalC]
      if (optionalsSeen && !isOpt)
        throw new ContractLibraryError(
          s"fun: The non-optional ${i}th arguments cannot follow an " +
            "optional arguments.")
      optionalsSeen = optionalsSeen || isOpt
    }
    if (inputs.isEmpty)
      throw new ContractLibraryError(
        s"registerMulti `$name` requires at least one input contract")
    register(name, inputs.head, doc, category)
    entries += name -> entries(name).copy(inputs = inputs)
    this
  }

  /** register a multi-input member with NAMED inputs — the analog of
    * the reference's `c.fun({name: c}, …)` named-argument variant
    * (function-contracts.js:375-435). Same arity-window semantics as
    * [[registerMulti]]; violation frames use the input's NAME
    * (`.media` / "for the `media` argument of the call.") and the
    * contract renders in the braced `c.fun({ name: … }, …)` form. The
    * reference's exactly-one-key arg-spec guard (:376-404) is subsumed
    * by the (String, Contract) pair type. */
  def registerNamed(name: String, inputs: Seq[(String, Contract)],
                    doc: String = "", category: String = ""): this.type = {
    registerMulti(name, inputs.map(_._2), doc, category)
    entries += name -> entries(name).copy(inputNames = inputs.map(_._1))
    this
  }

  def inputNamesOf(name: String): Seq[String] =
    entries.get(name).map(_.inputNames).getOrElse(Nil)

  /** declare the RECEIVER contract of the most recently registered
    * multi-input member — the `thisArg` analog (function-contracts.js:
    * 166-171): at call time the member's FIRST frame is the receiver,
    * checked under the reference's `.this` stack item ("for the `this`
    * argument of the call.", contract-errors.js:21) before the declared
    * argument window applies to the rest. */
  def thisArg(c: Contract): this.type = {
    entries.lastOption match {
      case Some((name, e)) if e.inputs.nonEmpty =>
        entries += name -> e.copy(thisC = Some(c))
        this
      case _ => throw new ContractLibraryError(
        "thisArg() requires a preceding registerMulti()")
    }
  }

  /** `method(ths, {name: c}, …)` analog (function-contracts.js:437-451):
    * a named-argument member whose receiver contract is mandatory, with
    * the reference's construction guard — `ths` is typed Any ONLY to
    * reproduce that guard's exact wording (including its "by got" typo)
    * when handed a non-contract. */
  def registerMethod(name: String, ths: Any,
                     inputs: Seq[(String, Contract)], doc: String = "",
                     category: String = ""): this.type = {
    val thisContract = ths match {
      case c: Contract => c
      case other => throw new ContractLibraryError(
        s"method: expected a Contract for the `this` argument, " +
          s"by got ${Render.js(other)}\n")
    }
    registerNamed(name, inputs, doc, category)
    entries += name -> entries(name).copy(thisC = Some(thisContract),
      isMethod = true)
    this
  }

  def thisOf(name: String): Option[Contract] =
    entries.get(name).flatMap(_.thisC)

  /** declare the contract each EXTRA input beyond the declared window
    * must satisfy (the `extraArgs` analog, function-contracts.js:
    * 161-165) for the most recently registered multi-input member. */
  def extraInputs(c: Contract): this.type = {
    entries.lastOption match {
      case Some((name, e)) if e.inputs.nonEmpty =>
        entries += name -> e.copy(extra = Some(c))
        this
      case _ => throw new ContractLibraryError(
        "extraInputs() requires a preceding registerMulti()")
    }
  }

  def inputsOf(name: String): Seq[Contract] =
    entries.get(name).map(_.inputs).getOrElse(Nil)

  def extraOf(name: String): Option[Contract] =
    entries.get(name).flatMap(_.extra)

  /** declare the RESULT contract of the most recently registered member
    * — the `.returns` half of the reference's function contracts
    * (function-contracts.js:146-152 checks the wrapped function's result
    * without reversing blame, so failures blame the member). Fluent:
    * `register("m", in).returns(out)`. */
  def returns(c: Contract): this.type = {
    entries.lastOption match {
      case None => throw new ContractLibraryError(
        "returns() requires a preceding register()")
      case Some((name, e)) =>
        entries += name -> e.copy(returns = Some(c))
        this
    }
  }

  def returnsOf(name: String): Option[Contract] =
    entries.get(name).flatMap(_.returns)

  def apply(name: String): Contract =
    entries.getOrElse(name,
      throw new ContractLibraryError(s"unknown contract `$name`"))
      .contract

  def names: Seq[String] = entries.keys.toSeq

  def contractOf(name: String): Option[Contract] =
    entries.get(name).map(_.contract)

  /** `publish`: bind declared contracts to an implementation table —
    * every declared name must be implemented (contract.impl.js:830-835);
    * members not mentioned stay private (:828-839). Returns the sealed
    * façade (name → (impl, contract)). */
  def publish[A](impl: Map[String, A]): Map[String, (A, Contract)] =
    entries.map { case (name, e) =>
      impl.get(name) match {
        case None => throw new ContractLibraryError(
          s"publish: no implementation for declared contract `$name`")
        case Some(v) => name -> (v, e.contract)
      }
    }

  /** run-manifest metadata: module + per-contract renderings, emitted
    * alongside validation outputs (JSON object, deterministic order). */
  def toManifestJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val items = entries.values.map { e =>
      val ret = e.returns.map(r => s", \"returns\": ${q(r.render)}")
        .getOrElse("")
      val ins =
        if (e.inputs.isEmpty) ""
        else if (e.inputNames.nonEmpty)
          e.inputs.zip(e.inputNames)
            .map { case (i, n) => s"{${q(n)}: ${q(i.render)}}" }
            .mkString(", \"inputs\": [", ", ", "]")
        else e.inputs.map(i => q(i.render))
          .mkString(", \"inputs\": [", ", ", "]")
      s"${q(e.name)}: {\"repr\": ${q(e.contract.render)}, " +
        s"\"doc\": ${q(e.doc)}, \"category\": ${q(e.category)}$ret$ins}"
    }
    s"{\"module\": ${q(module)}, \"contracts\": {${items.mkString(", ")}}}"
  }

  /** human-readable docs (the generateHTML analog, kept to Markdown). */
  def toMarkdown: String = {
    val rows = entries.values.map(e =>
      s"| `${e.name}` | ${e.category} | `${e.contract.render}` | ${e.doc} |")
    (s"# Contracts — $module\n\n| name | category | contract | doc |\n" +
      "|---|---|---|---|\n" + rows.mkString("\n"))
  }

  /** the rendered contract shown in docs/messages: single-input members
    * render their contract; multi-input members render the reference's
    * function-contract toString form (c.fn / c.fun / c.method with the
    * `this:` prefix, `...extraArgs` and `-> result`). */
  def renderOf(name: String): String = {
    val e = entries(name)
    if (e.inputs.isEmpty) {
      val base = e.contract.render
      e.returns.map(r => s"c.fun({ df: $base } -> ${r.render})")
        .getOrElse(base)
    } else {
      val argsRepr =
        if (e.inputNames.nonEmpty)
          e.inputs.zip(e.inputNames)
            .map { case (c, n) => s"{ $n: ${c.render} }" }.mkString(", ")
        else e.inputs.map(_.render).mkString(", ")
      val ctor =
        if (e.isMethod) "c.method"
        else if (e.inputNames.nonEmpty) "c.fun" else "c.fn"
      val thisRepr = e.thisC.map(c => s"this: ${c.render}, ")
        .getOrElse("")
      s"$ctor($thisRepr$argsRepr" +
        e.extra.map(x => s"...c.array(${x.render})").getOrElse("") +
        s" -> ${e.returns.map(_.render).getOrElse(AnyC.render)})"
    }
  }

  /** Standalone HTML docs — the generateHTML.js analog (:1-160 +
    * resources/module.mustache): module title, one section per
    * category (header + the category's own doc line; uncategorized
    * members lead without a header, like the template's
    * hasHeader:false block), and a name / rendered-contract / doc
    * table per section. Original markup, not the reference's
    * template — the parity surface is the INFORMATION rendered. */
  def toHtml: String = {
    def esc(s: String): String = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    def table(es: Seq[Entry]): String =
      es.map { e =>
        s"""<tr class="value"><td class="value-name">${esc(e.name)}</td>
           |<td class="value-type"><code>${esc(renderOf(e.name))}</code></td>
           |<td class="value-doc">${esc(e.doc)}</td></tr>""".stripMargin
      }.mkString(
        "<table class=\"values-table\">\n", "\n", "\n</table>")
    val byCat = entries.values.toSeq.groupBy(_.category)
    val uncat = byCat.getOrElse("", Nil)
    val catOrder = categories.keys.toSeq ++
      byCat.keys.filter(c => c.nonEmpty && !categories.contains(c))
    val sections =
      (if (uncat.nonEmpty) Seq(table(uncat)) else Nil) ++
        catOrder.distinct.flatMap { cat =>
          byCat.get(cat).filter(_.nonEmpty).map { es =>
            s"""<h2 class="category">${esc(cat)}</h2>
               |<p class="types-category-doc">${esc(
                 categories.getOrElse(cat, ""))}</p>
               |${table(es)}""".stripMargin
          }
        }
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(module)}</title>
       |<style>
       |body { max-width: 60em; margin: 2em auto; font-family: sans-serif; }
       |code { background: #eef; padding: 0 3px; }
       |table { border-collapse: collapse; }
       |td { padding: 6px 12px; vertical-align: top; border-top: 1px solid #ccc; }
       |</style></head>
       |<body>
       |<h1>${esc(module)}</h1>
       |${sections.mkString("\n")}
       |</body></html>""".stripMargin
  }
}
