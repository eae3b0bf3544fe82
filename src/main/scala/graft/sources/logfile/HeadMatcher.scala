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
  /** True iff the UTF-8 line `bytes[0, len)` is a record head. */
  def matches(bytes: Array[Byte], len: Int): Boolean
}

object HeadMatcher {

  /** Compiles `pattern`; invalid regexes throw `PatternSyntaxException` as
    * `Pattern.compile` does.
    */
  def compile(pattern: String): HeadMatcher = {
    val regex = Pattern.compile(pattern) // rejects what Java rejects, on both paths
    try ByteDfa.compile(pattern)
    catch { case Unsupported => new RegexHeadMatcher(regex) }
  }
}

/** Fallback: decode as `Text.toString` does, then `java.util.regex`. */
private[logfile] final class RegexHeadMatcher(regex: Pattern) extends HeadMatcher {
  private val matcher = regex.matcher("")
  def matches(bytes: Array[Byte], len: Int): Boolean =
    matcher.reset(Text.decode(bytes, 0, len)).matches()
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

  def matches(bytes: Array[Byte], len: Int): Boolean = {
    var s = start
    var i = 0
    while (i < len) {
      if (s == tail) {
        while (i + 8 <= len && DfaHeadMatcher.plainAscii(bytes, i)) i += 8
        while (i < len && stays(bytes(i) & 0xff)) i += 1
        if (i == len) return true
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

private case object Unsupported extends Exception with NoStackTrace

/** Parser for the byte-level subset, NFA construction and subset
  * construction; throws [[Unsupported]] for anything outside the subset.
  */
private object ByteDfa {
  private sealed trait Re
  /** One byte from the set. */
  private final case class Bytes(set: BitSet) extends Re
  private final case class Cat(items: List[Re]) extends Re
  private final case class Alt(alts: List[Re]) extends Re
  private final case class Opt(r: Re) extends Re

  /** DFA states beyond this fall back to `java.util.regex`. */
  private val MaxStates = 1024
  /** Largest `m` accepted in `{n,m}`. */
  private val MaxRepeat = 256

  private val Digits = BitSet('0'.toInt to '9'.toInt: _*)
  private val Spaces = BitSet(' ', '\t', '\n', 0x0B, '\f', '\r')
  private val Meta = "\\^$.|?*+()[]{}"

  def compile(pattern: String): HeadMatcher = {
    val (body, tail) = new Parser(pattern).parse()
    val nfa = new Nfa
    val end = if (tail) nfa.dotStar() else nfa.state(accept = true)
    determinize(nfa, nfa.build(body, end), if (tail) end else -1)
  }

  private final class Parser(p: String) {
    private var i = 0
    private def more: Boolean = i < p.length
    private def peek: Char = p.charAt(i)

    /** The body and whether it ends in `.*`. */
    def parse(): (Re, Boolean) = {
      if (p.startsWith("^")) i = 1 // a no-op under matches()
      val body = alt()
      val tail = i + 2 == p.length && p.endsWith(".*")
      if (tail) i += 2
      // a trailing .* after a top-level alternation binds to the last branch only
      if (more || (tail && body.isInstanceOf[Alt])) throw Unsupported
      (body, tail)
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
      while (more && peek != '|' && peek != ')' && peek != '.') {
        if (peek == '(') {
          items += group()
          if (more && "?*+{".indexOf(peek) >= 0) throw Unsupported
        } else items += quantified(atom())
      }
      Cat(items.result())
    }

    private def group(): Re = {
      i += 1
      if (p.startsWith("?:", i)) i += 2
      else if (p.startsWith("?<", i) && i + 2 < p.length && isAsciiLetter(p.charAt(i + 2))) {
        i = p.indexOf('>', i)
        if (i < 0) throw Unsupported
        i += 1
      } else if (more && peek == '?') throw Unsupported // flags, lookaround, atomic
      val r = alt()
      if (!more || peek != ')') throw Unsupported
      i += 1
      r
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

    private def quantified(a: BitSet): Re = {
      val one = Bytes(a)
      if (!more) return one
      val r = peek match {
        case '?' => i += 1; Opt(one)
        case '{' =>
          i += 1
          val n = number()
          val m = if (more && peek == ',') { i += 1; number() } else n
          if (!more || peek != '}' || n > m || m > MaxRepeat) throw Unsupported
          i += 1
          Cat(List.fill(n)(one) ++ List.fill(m - n)(Opt(one)))
        case '*' | '+' => throw Unsupported
        case _ => return one
      }
      // lazy or possessive modifiers, stacked quantifiers
      if (more && "?*+{".indexOf(peek) >= 0) throw Unsupported
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
      case Opt(inner) => val s = state(); eps(s) = List(build(inner, next), next); s
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
