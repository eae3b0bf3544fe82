package graft.sources.logfile

import java.lang.invoke.MethodHandles
import java.nio.ByteOrder
import java.util.regex.Pattern

import scala.collection.immutable.BitSet
import scala.collection.mutable
import scala.util.control.NoStackTrace

import org.apache.hadoop.io.Text

/** The record-head test (invariant 1 of [[LogfilePartitionReader]]): does a
  * line FULLY match the first-line regex, exactly as
  * `Pattern.compile(p).matcher(text.toString).matches()` decides it?
  *
  * [[HeadMatcher.compile]] picks the implementation from the pattern alone:
  *   - patterns in a subset whose every atom is one ASCII character compile
  *     to a DFA over the line's UTF-8 bytes, so the line is never decoded;
  *   - every other pattern decodes the line as `Text.toString` does and runs
  *     `java.util.regex` (the reference's `Pattern.matches()`).
  *
  * The byte-level subset: ASCII literals and escaped non-alphanumeric
  * characters (`\|`, `\.`, `\{`); `\d` and `\s` (Java's ASCII sets, `\s` is
  * `[ \t\n\x0B\f\r]`); positive bracket classes of ASCII members, ranges,
  * `\d` and `\s`; `?`, `{n}` and `{n,m}` on a single atom; a leading `^`;
  * capturing, named and non-capturing groups; alternation; and a trailing
  * `.*` when the pattern has no top-level alternation. Anything else (inline
  * flags, `$`, negated classes, `\w`, `\b`, back-references, lookaround,
  * non-ASCII literals, `.` anywhere but at the end) takes the fallback.
  *
  * Why bytes suffice: an ASCII atom matches one ASCII char, and UTF-8
  * decoding maps each ASCII byte to that char and every other byte run,
  * valid or not, to non-ASCII chars (invalid runs become U+FFFD without
  * swallowing an ASCII byte). The trailing `.*` accepts the rest of the
  * line iff it holds none of the line terminators Java's `.` rejects:
  * `0x0A`, `0x0D`, `C2 85` (U+0085), `E2 80 A8` and `E2 80 A9` (U+2028,
  * U+2029). `C2` and `E2` are never continuation bytes, so those byte
  * sequences decode to those chars wherever they occur.
  */
sealed abstract class HeadMatcher {
  /** True iff the UTF-8 line `bytes[off, off + len)` is a record head. */
  def matches(bytes: Array[Byte], off: Int, len: Int): Boolean
}

object HeadMatcher {

  /** Per pattern: its DFA, shared by every reader of the pattern in this
    * JVM (it is immutable), or the `Pattern` of a fallback, which gives
    * each reader a `Matcher` of its own.
    */
  private val compiled = new PatternMemo[String, Either[Pattern, DfaHeadMatcher]]

  /** Compiles `pattern`, once per JVM while it stays in [[PatternMemo]];
    * invalid regexes throw `PatternSyntaxException` as `Pattern.compile`
    * does.
    */
  def compile(pattern: String): HeadMatcher = compiled(pattern) {
    val regex = Pattern.compile(pattern) // rejects what Java rejects, on both paths
    try Right(ByteDfa.compile(pattern)) catch { case Unsupported => Left(regex) }
  }.fold(new RegexHeadMatcher(_), identity)
}

/** The per-JVM memo of compiled patterns: the last 64 keys used, least
  * recently used going first. A compile that throws stores nothing.
  */
private[graft] final class PatternMemo[K, V] {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > 64
  }

  def apply(key: K)(compile: => V): V = map.synchronized {
    if (!map.containsKey(key)) map.put(key, compile)
    map.get(key)
  }
}

/** Fallback: decode as `Text.toString` does, then `java.util.regex`. */
private[logfile] final class RegexHeadMatcher(regex: Pattern) extends HeadMatcher {
  private[logfile] val matcher = regex.matcher("")
  def matches(bytes: Array[Byte], off: Int, len: Int): Boolean =
    matcher.reset(Text.decode(bytes, off, len)).matches()
}

/** A DFA over bytes. Bytes that no transition tells apart share a class;
  * state ids are premultiplied by the class count, and state 0 is dead.
  * `tail` is the state inside a trailing `.*` (-1 if none). There the
  * bytes that keep the state are skipped without the table's load chain,
  * eight at a time while all eight lie in 0x0E..0x7F, which `.*` keeps.
  */
private[logfile] final class DfaHeadMatcher(
    classOf: Array[Int], table: Array[Int], start: Int, accepting: Array[Boolean], tail: Int)
    extends HeadMatcher {
  private val width = table.length / accepting.length
  private val stays = Array.tabulate(256)(b => tail > 0 && table(tail + classOf(b)) == tail)

  def matches(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    var s = start
    var i = off
    while (i < end) {
      if (s == tail) {
        while (i + 8 <= end && DfaHeadMatcher.plainAscii(bytes, i)) i += 8
        while (i < end && stays(bytes(i) & 0xff)) i += 1
        if (i == end) return true
      }
      s = table(s + classOf(bytes(i) & 0xff))
      if (s == 0) return false
      i += 1
    }
    accepting(s / width)
  }
}

private object DfaHeadMatcher {
  private val Longs = MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)

  /** True iff all of `bytes[i, i + 8)` lie in 0x0E..0x7F: a byte below 0x0E
    * borrows into its top bit, a byte from 0x80 has it set already.
    */
  def plainAscii(bytes: Array[Byte], i: Int): Boolean = {
    val w: Long = (Longs.get(bytes, i): Long)
    ((w - 0x0E0E0E0E0E0E0E0EL | w) & 0x8080808080808080L) == 0
  }
}

private[graft] case object Unsupported extends Exception with NoStackTrace

/** The byte-level regex subset, shared by [[HeadMatcher]]'s DFA and the
  * byte-level `regexp_extract` (`graft.functions.expressions.ByteRegex`).
  * [[parse]] accepts the union of what the two compile and throws
  * [[Unsupported]] for anything else; each compiler then throws it for the
  * nodes it cannot take.
  *
  * Every atom is one ASCII character: ASCII literals, escaped
  * non-alphanumeric characters, `\d`, `\s`, positive bracket classes of
  * ASCII members and ranges, and `.`. A quantifier (`?`, `*`, `+`, `{n}`,
  * `{n,}`, `{n,m}`, all greedy) applies to a single atom only, never to a
  * group or an assertion. Groups are capturing, named or non-capturing and
  * numbered as Java numbers them. The assertions are a leading `^`, `\b`
  * and `$`.
  */
private[graft] object RegexSubset {
  sealed trait Re
  /** One ASCII character from the set. */
  final case class Bytes(set: BitSet) extends Re
  /** `.`: one character that is not a line terminator. */
  case object AnyChar extends Re
  /** A greedy repeat of one atom ([[Bytes]] or [[AnyChar]]); `max < 0` is unbounded. */
  final case class Repeat(atom: Re, min: Int, max: Int) extends Re
  final case class Cat(items: List[Re]) extends Re
  final case class Alt(alts: List[Re]) extends Re
  /** A group; `capture` is its number, 0 for a non-capturing group. */
  final case class Group(capture: Int, r: Re) extends Re
  /** `^` at the start of the pattern. */
  case object Begin extends Re
  /** `\b`. */
  case object WordBoundary extends Re
  /** `$`. */
  case object End extends Re

  /** Largest `n` or `m` accepted in `{n}`, `{n,}` and `{n,m}`. */
  private val MaxRepeat = 256

  private val Digits = BitSet('0'.toInt to '9'.toInt: _*)
  private val Spaces = BitSet(' ', '\t', '\n', 0x0B, '\f', '\r')
  private val Meta = "\\^$.|?*+()[]{}"

  /** The syntax tree of `pattern` and its number of capturing groups. */
  def parse(pattern: String): (Re, Int) = {
    val parser = new Parser(pattern)
    val body = parser.parse()
    (body, parser.groups)
  }

  private final class Parser(p: String) {
    private var i = 0
    var groups = 0
    private def more: Boolean = i < p.length
    private def peek: Char = p.charAt(i)
    private def quantifierNext: Boolean = more && "?*+{".indexOf(peek) >= 0

    def parse(): Re = {
      val body = alt()
      if (more) throw Unsupported
      body
    }

    private def alt(): Re = {
      val alts = List.newBuilder[Re]
      alts += seq()
      while (more && peek == '|') { i += 1; alts += seq() }
      alts.result() match {
        case one :: Nil => one
        case many => Alt(many)
      }
    }

    private def seq(): Re = {
      val items = List.newBuilder[Re]
      while (more && peek != '|' && peek != ')') {
        items += (peek match {
          case '(' => assertion(group())
          case '^' if i == 0 => i += 1; assertion(Begin)
          case '$' => i += 1; assertion(End)
          case '\\' if p.startsWith("\\b", i) => i += 2; assertion(WordBoundary)
          case '.' => i += 1; quantified(AnyChar)
          case _ => quantified(Bytes(atom()))
        })
      }
      Cat(items.result())
    }

    /** `r`, which takes no quantifier. */
    private def assertion(r: Re): Re = {
      if (quantifierNext) throw Unsupported
      r
    }

    private def group(): Re = {
      i += 1
      val capture =
        if (p.startsWith("?:", i)) { i += 2; 0 }
        else if (p.startsWith("?<", i) && i + 2 < p.length && isAsciiLetter(p.charAt(i + 2))) {
          i = p.indexOf('>', i)
          if (i < 0) throw Unsupported
          i += 1
          groups += 1
          groups
        } else if (more && peek == '?') throw Unsupported // flags, lookaround, atomic
        else { groups += 1; groups }
      val r = alt()
      if (!more || peek != ')') throw Unsupported
      i += 1
      Group(capture, r)
    }

    private def atom(): BitSet = peek match {
      case '\\' => escape()
      case '[' => bracket()
      case c if c < 0x80 && Meta.indexOf(c) < 0 => i += 1; BitSet(c)
      case _ => throw Unsupported
    }

    /** `\d`, `\s` or an escaped non-alphanumeric ASCII character. */
    private def escape(): BitSet = {
      if (i + 1 >= p.length) throw Unsupported
      val c = p.charAt(i + 1)
      i += 2
      c match {
        case 'd' => Digits
        case 's' => Spaces
        case _ if c < 0x80 && !c.isLetterOrDigit => BitSet(c)
        case _ => throw Unsupported
      }
    }

    private def bracket(): BitSet = {
      i += 1
      if (!more || peek == '^' || peek == ']') throw Unsupported
      var set = BitSet.empty
      var first = true
      while (more && peek != ']') {
        val from = i
        val lo = member(first)
        first = false
        if (more && peek == '-' && i + 1 < p.length && p.charAt(i + 1) != ']') {
          i += 1
          val hiFrom = i
          val hi = member(first = false)
          // ranges only between plain characters
          if (hiFrom != from + 2 || i != hiFrom + 1 || lo.head == '-' || hi.head == '-' ||
              lo.head > hi.head) throw Unsupported
          set ++= lo.head to hi.head
        } else set ++= lo
      }
      if (!more) throw Unsupported
      i += 1
      set
    }

    /** One class member; a `-` is literal only first or right before `]`. */
    private def member(first: Boolean): BitSet = peek match {
      case '\\' => escape()
      case '[' | '&' => throw Unsupported // nested classes, intersections
      case '-' if !first && !(i + 1 < p.length && p.charAt(i + 1) == ']') => throw Unsupported
      case c if c < 0x80 => i += 1; BitSet(c)
      case _ => throw Unsupported
    }

    private def quantified(a: Re): Re = {
      if (!more) return a
      val r = peek match {
        case '?' => i += 1; Repeat(a, 0, 1)
        case '*' => i += 1; Repeat(a, 0, -1)
        case '+' => i += 1; Repeat(a, 1, -1)
        case '{' =>
          i += 1
          val n = number()
          val m =
            if (!more || peek != ',') n
            else { i += 1; if (more && peek == '}') -1 else number() }
          if (!more || peek != '}' || n > MaxRepeat || m > MaxRepeat || (m >= 0 && n > m))
            throw Unsupported
          i += 1
          Repeat(a, n, m)
        case _ => return a
      }
      if (quantifierNext) throw Unsupported // lazy or possessive, stacked quantifiers
      r
    }

    private def number(): Int = {
      val from = i
      while (more && peek >= '0' && peek <= '9' && i - from < 4) i += 1
      if (i == from) throw Unsupported
      p.substring(from, i).toInt
    }

    private def isAsciiLetter(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  }
}

/** NFA construction and subset construction over a [[RegexSubset]] tree
  * that fits `matches()` on any UTF-8 line: no `.` but a trailing `.*`
  * after no top-level `|`, no `\b` or `$`, and bounded repeats only. Throws
  * [[Unsupported]] for anything else.
  */
private object ByteDfa {
  import RegexSubset._

  /** DFA states beyond this fall back to `java.util.regex`. */
  private val MaxStates = 1024

  def compile(pattern: String): DfaHeadMatcher = {
    val (body, tail) = parse(pattern)._1 match {
      case Cat(items :+ Repeat(AnyChar, 0, -1)) => (Cat(items), true)
      case r => (r, false)
    }
    val nfa = new Nfa
    val end = if (tail) nfa.dotStar() else nfa.state(accept = true)
    determinize(nfa, nfa.build(body, end), if (tail) end else -1)
  }

  /** Thompson NFA: each state has byte-set edges, epsilon edges, an accept flag. */
  private final class Nfa {
    val edges = mutable.ArrayBuffer.empty[List[(BitSet, Int)]]
    val eps = mutable.ArrayBuffer.empty[List[Int]]
    val accept = mutable.ArrayBuffer.empty[Boolean]

    def state(accept: Boolean = false): Int = {
      edges += Nil; eps += Nil; this.accept += accept
      edges.length - 1
    }

    /** Entry state of `r` followed by `next`. */
    def build(r: Re, next: Int): Int = r match {
      case Bytes(set) => val s = state(); edges(s) = List(set -> next); s
      case Cat(items) => items.foldRight(next)(build)
      case Alt(alts) => val s = state(); eps(s) = alts.map(build(_, next)); s
      case Group(_, inner) => build(inner, next)
      case Begin => next // only ever at the pattern's start: a no-op under matches()
      case Repeat(atom: Bytes, n, m) if m >= 0 =>
        // n copies, then m - n optional ones
        var s = next
        for (_ <- n until m) { val o = state(); eps(o) = List(build(atom, s), s); s = o }
        for (_ <- 0 until n) s = build(atom, s)
        s
      case _ => throw Unsupported // `.`, unbounded repeats, `\b`, `$`
    }

    /** Java's `.*` at the end of the input, over UTF-8 bytes: accept any
      * byte string without 0A, 0D, C2 85, E2 80 A8 or E2 80 A9. States
      * record the last byte or two that could begin one of those.
      */
    def dotStar(): Int = {
      val any = BitSet(0 until 256: _*) -- Seq(0x0A, 0x0D, 0xC2, 0xE2)
      val (t0, c2, e2, e280) =
        (state(accept = true), state(accept = true), state(accept = true), state(accept = true))
      def edgesFrom(rest: BitSet, extra: (BitSet, Int)*): List[(BitSet, Int)] =
        List(rest -> t0, BitSet(0xC2) -> c2, BitSet(0xE2) -> e2) ++ extra
      edges(t0) = edgesFrom(any)
      edges(c2) = edgesFrom(any - 0x85)
      edges(e2) = edgesFrom(any - 0x80, BitSet(0x80) -> e280)
      edges(e280) = edgesFrom(any - 0xA8 - 0xA9)
      t0
    }
  }

  /** Subset construction over byte classes; `tail` is the NFA's `.*` entry
    * state, or -1.
    */
  private def determinize(nfa: Nfa, start: Int, tail: Int): DfaHeadMatcher = {
    // bytes inside exactly the same edge sets are interchangeable
    val sets = nfa.edges.iterator.flatMap(_.map(_._1)).distinct.toIndexedSeq
    val signature = (0 until 256).map(b => sets.map(_.contains(b)))
    val reps = signature.distinct
    val classOf = signature.map(reps.indexOf(_)).toArray
    val repByte = reps.map(r => signature.indexOf(r))
    val width = reps.length

    def closure(from: Iterable[Int]): BitSet = {
      var seen = BitSet.empty
      var stack = from.toList
      while (stack.nonEmpty) {
        val s = stack.head
        stack = stack.tail
        if (!seen(s)) { seen += s; stack = nfa.eps(s) ++ stack }
      }
      seen
    }

    val ids = mutable.HashMap[BitSet, Int](BitSet.empty -> 0)
    val order = mutable.ArrayBuffer[BitSet](BitSet.empty)
    def id(set: BitSet): Int = ids.getOrElseUpdate(set, {
      if (order.length == MaxStates) throw Unsupported
      order += set
      order.length - 1
    })
    id(closure(Seq(start)))
    val table = mutable.ArrayBuffer.empty[Int]
    var d = 0
    while (d < order.length) {
      val here = order(d)
      for (b <- repByte) {
        val next = for (s <- here.toSeq; (set, t) <- nfa.edges(s) if set(b)) yield t
        table += id(closure(next)) * width
      }
      d += 1
    }
    new DfaHeadMatcher(classOf, table.toArray, width,
      order.map(_.exists(nfa.accept)).toArray,
      if (tail < 0) -1 else ids.get(BitSet(tail)).fold(-1)(_ * width))
  }
}
