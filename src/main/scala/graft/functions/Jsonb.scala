package graft.functions

import scala.util.matching.Regex
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's JSONB operator surface
  * (/root/reference components/expressions/forward.hpp:64-70 — `->`,
  * `->>`, `#>`, `#>>`, `-` deletion, `::?` assertion; SQL lowering at
  * components/sql/transformer/impl/transform_select.cpp:641-715),
  * re-expressed two ways:
  *
  *  1. a Column DSL ([[JsonbColumn]]) for struct columns (`getField`,
  *     `dropFields`) and JSON-string columns (`get_json_object`) — all
  *     codegen'd built-ins, no UDFs;
  *  2. a SQL pre-rewriter ([[rewrite]]) that turns PG-dialect operator
  *     spellings into Spark SQL before Catalyst parses, plus `$n`
  *     parameter binding (reference entry point 3).
  */
object Jsonb {

  implicit class JsonbColumn(val c: Column) {
    /** `->` on struct columns: field access (keeps structure). */
    def field(name: String): Column = c.getField(name)

    /** `->>` on a JSON-string column: extract as text. */
    def ->>(key: String): Column = get_json_object(c, "$." + key)

    /** `#>>` path extraction on a JSON-string column. */
    def #>>(path: Seq[String]): Column =
      get_json_object(c, "$." + path.mkString("."))

    /** `-` key deletion on a struct column (reference jsonb_delete). */
    def deleteField(name: String): Column = c.dropFields(name)

    /** `::?` type assertion: cast-or-fail under ANSI mode. */
    def typeAssert(t: String): Column = c.cast(t)

    /** Parse a JSON string column into a VARIANT (Spark 4) — the open
      * document type matching the reference's VARIANT logical type
      * (components/types/types.hpp VARIANT; SURVEY §1.2). */
    def toVariant: Column = parse_json(c)

    /** Typed path extraction from a VARIANT column. */
    def variantPath(path: String, targetType: String): Column =
      variant_get(c, path, targetType)
  }

  /** Rewrites PG-dialect SQL to Spark SQL:
    *   - `$1, $2…` placeholders → bound literals
    *   - `a->'b'->>'c'` chains  → `get_json_object(a, '$.b.c')`
    *   - `a #> '{b,c}'` / `#>>` → `get_json_object(a, '$.b.c')`
    *   - `a - 'k'` (string minus string-literal) → flat-map key deletion
    *   - `expr ::? 'type'`      → `CAST(expr AS type)`
    * Plain `::` casts parse natively in Spark ≥3.4 and pass through.
    * Purely textual (regex) by design: the affordance layer stays thin and
    * everything after it is Catalyst — mirroring SURVEY §3's lifecycle
    * mapping where our "transformer" stage is this one function. Literals
    * and comments come back verbatim. */
  def rewrite(query: String, params: Seq[Any] = Nil): String = {
    val m = new Masked(query)
    rewrite(m, params)
    m.restored
  }

  /** SQL text with every string literal ('' escapes included) and every
    * comment (`-- …`, `/* … */`) behind an indexed placeholder: the one
    * scan that decides which parts of a statement are data. It runs left
    * to right, so an apostrophe inside a comment (`-- can't`) never pairs
    * with a later quote. Text stages rewrite `text` and never see inside a
    * literal or a comment; [[restore]] puts back what they left. */
  private[graft] final class Masked(sql: String) {
    private val opaque = scala.collection.mutable.ArrayBuffer.empty[String]

    /** `s` with its literals and comments masked into this text's
      * placeholders (how a macro body joins a statement). */
    def mask(s: String): String =
      Opaque.replaceAllIn(s, m => Regex.quoteReplacement(hide(m.matched)))

    var text: String = mask(sql)

    /** Puts `raw` behind a fresh placeholder and returns the placeholder. */
    def hide(raw: String): String = { opaque += raw; s"$Mark${opaque.size - 1}$Mark" }

    /** The content of `piece` ('' unescaped) when it is one string
      * literal; None for anything else (a comment, a bound number). */
    def literalOf(piece: String): Option[String] = piece.trim match {
      case Placeholder(i) if opaque(i.toInt).startsWith("'") =>
        val raw = opaque(i.toInt)
        Some(raw.substring(1, raw.length - 1).replace("''", "'"))
      case _ => None
    }

    /** `piece` as one value: a lone literal's content, else restored. */
    def unquote(piece: String): String =
      literalOf(piece).getOrElse(restore(piece.trim))

    /** Turns every comment still masked in `text` into one space. */
    def blankComments(): Unit = text = Placeholder.replaceAllIn(text, m => {
      val raw = opaque(m.group(1).toInt)
      if (raw.startsWith("--") || raw.startsWith("/*")) " " else m.matched
    })

    /** `piece` (a part of `text`) with its placeholders restored verbatim. */
    def restore(piece: String): String = Placeholder.replaceAllIn(piece, m =>
      Regex.quoteReplacement(opaque(m.group(1).toInt)))

    def restored: String = restore(text)
  }

  private val Opaque = "(?s)'(?:[^']|'')*'|--[^\n]*|/\\*.*?\\*/".r
  // a private-use character: never whitespace (trim keeps it), never a
  // word character (\b and \w treat it as punctuation)
  private val Mark = "\uE000"
  private val Placeholder = (Mark + "(\\d+)" + Mark).r
  private val P = "(" + Mark + "\\d+" + Mark + ")"

  /** [[rewrite]]'s stages on an already masked statement: `$n` binding,
    * then the operator rewrites. The operator keys ARE literals, so the
    * patterns reference them BY placeholder: a `->>`/`#>` spelled INSIDE a
    * larger literal (say 'a->>k' with escaped quotes) or a comment can
    * never fire, the whole token is opaque. */
  private[graft] def rewrite(masked: Masked, params: Seq[Any]): Unit = {
    var q = masked.text
    // $n parameters bind in one left-to-right pass; each bound value
    // enters as one more masked literal, so a `$1` inside it is never
    // re-bound (it still keys the operators below: `a->>$1`). Unbound
    // indexes stay as written.
    q = """\$(\d+)""".r.replaceAllIn(q, mm =>
      mm.group(1).toIntOption.filter(i => i >= 1 && i <= params.size) match {
        case Some(i) =>
          Regex.quoteReplacement(masked.hide(sqlLiteral(params(i - 1))))
        case None => Regex.quoteReplacement(mm.matched)
      })
    // re-escape for splicing into a generated single-quoted literal
    def esc(s: String): String = s.replace("'", "''")
    // ident->'k1'->'k2'->>'k3' chains (any mix; last op decides nothing
    // here -- get_json_object always returns text, matching ->> semantics;
    // -> midway through a chain is pure navigation either way)
    val chain = ("""([A-Za-z_][\w.]*)((?:\s*->>?\s*""" + P + ")+)").r
    q = chain.replaceAllIn(q, m => {
      // None when a key's placeholder holds a comment, not a literal
      // (operators never take a comment as a key)
      val keys = P.r.findAllMatchIn(m.group(2))
        .map(mm => masked.literalOf(mm.group(1))).toSeq
      if (keys.forall(_.isDefined))
        Regex.quoteReplacement(s"get_json_object(${m.group(1)}, " +
          s"'$$.${esc(keys.flatten.mkString("."))}')")
      else Regex.quoteReplacement(m.matched)
    })
    // #> / #>> '{a,b}' paths (only a {...}-shaped literal is a path --
    // any other content restores untouched)
    val hashPath = ("""([A-Za-z_][\w.]*)\s*#>>?\s*""" + P).r
    q = hashPath.replaceAllIn(q, m => {
      masked.literalOf(m.group(2)) match {
        case Some(c) if c.startsWith("{") && c.endsWith("}") =>
          val path = c.substring(1, c.length - 1)
            .split(",").map(_.trim).mkString(".")
          Regex.quoteReplacement(
            s"get_json_object(${m.group(1)}, '$$.${esc(path)}')")
        case _ => Regex.quoteReplacement(m.matched)
      }
    })
    // key deletion on flat JSON objects. ONLY the unambiguous #- operator
    // is rewritten textually: a bare `col - 'literal'` is routinely real
    // SQL (`ts - '1 hour'` interval arithmetic) and a regex cannot know
    // the column is JSON -- plain `-` deletion stays in the column DSL
    // (deleteField) where the type is known.
    val del = ("""([A-Za-z_][\w.]*)\s*#-\s*""" + P).r
    q = del.replaceAllIn(q, m => {
      masked.literalOf(m.group(2)) match {
        case Some(c) =>
          val key = c.stripPrefix("{").stripSuffix("}")
          Regex.quoteReplacement(
            s"to_json(map_filter(from_json(${m.group(1)}, 'map<string,string>'), " +
              s"(k, v) -> k != '${esc(key)}'))")
        case None => Regex.quoteReplacement(m.matched)
      }
    })
    // ::? 'type' assertions (quoted or bare type name)
    val assertCast = ("""::\?\s*(?:""" + P + """|([A-Za-z ()0-9,]+))""").r
    q = assertCast.replaceAllIn(q, m => {
      val t =
        if (m.group(1) != null) masked.literalOf(m.group(1)) else Option(m.group(2))
      t match {
        case Some(tt) => Regex.quoteReplacement(s"::$tt")
        case None => Regex.quoteReplacement(m.matched)
      }
    })
    masked.text = q
  }

  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case other => other.toString
  }
}
