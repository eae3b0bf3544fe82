package graft.functions.expressions

import java.nio.ByteOrder
import java.util.regex.{Matcher, Pattern}

import scala.annotation.switch
import scala.collection.immutable.BitSet
import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.logfile.{PatternMemo, RegexSubset, Unsupported}

/** `substring_index(child, delim, count)` with a literal delimiter and
  * count, on the string's UTF-8 bytes. It returns the bytes
  * `UTF8String.subStringIndex` returns for every input, valid UTF-8 or
  * not, but always in a fresh array: the result is never a view into the
  * input. [[graft.plans.ByteStringKernels]] puts it in place of Spark's
  * `SubstringIndex` over UTF8_BINARY strings.
  */
case class ByteSubstringIndex(child: Expression, delim: UTF8String, count: Int)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def prettyName: String = "byte_substring_index"

  @transient private lazy val delimBytes: Array[Byte] = delim.getBytes

  override protected def nullSafeEval(s: Any): Any =
    ByteKernels.substringIndex(s.asInstanceOf[UTF8String], delimBytes, count)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("delim", delimBytes, "byte[]")
    val d = ctx.addMutableState("byte[]", "delim", v => s"$v = $ref;")
    defineCodeGen(ctx, ev, s => s"${ByteKernels.Name}.substringIndex($s, $d, $count)")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteSubstringIndex =
    copy(child = newChild)
}

/** `regexp_extract(child, pattern, idx)` with a literal pattern in
  * [[RegexSubset]] and a literal `0 <= idx <= groupCount`, through
  * [[ByteRegex]]. [[graft.plans.ByteStringKernels]] puts it in place of
  * Spark's `RegExpExtract` over UTF8_BINARY strings.
  */
case class ByteRegExpExtract(child: Expression, pattern: String, idx: Int)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def prettyName: String = "byte_regexp_extract"

  /** The program the rule compiled, from the per-JVM memo: copies on the
    * driver and deserialized copies on executors compile nothing.
    */
  @transient private[graft] lazy val program: ByteRegex = ByteRegex.compile(pattern, idx)
    .getOrElse(throw new IllegalArgumentException(s"not in the byte regex subset: $pattern"))

  /** The interpreted path, Spark's fallback, takes fresh scratch per call. */
  override protected def nullSafeEval(s: Any): Any =
    program.extract(s.asInstanceOf[UTF8String], new ByteRegexState)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ByteRegex].getName
    val stateCls = classOf[ByteRegexState].getName
    val ref = ctx.addReferenceObj("byteRegex", program, cls)
    val prog = ctx.addMutableState(cls, "byteRegex", v => s"$v = $ref;")
    val st = ctx.addMutableState(stateCls, "byteRegexState", v => s"$v = new $stateCls();")
    defineCodeGen(ctx, ev, s => s"$prog.extract($s, $st)")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteRegExpExtract =
    copy(child = newChild)
}

/** Per-caller scratch of [[ByteRegex.extract]]: the backtracking stack and
  * the fallback's `Matcher`. Generated code keeps one per generated class
  * instance; it is never shared between threads.
  */
final class ByteRegexState {
  private[expressions] var stack: Array[Int] = Array.emptyIntArray
  private[expressions] var matcher: Matcher = _
}

/** A [[RegexSubset]] pattern compiled, once, for one group index: a flat
  * program run by a backtracking VM over the string's bytes, in
  * leftmost-first order with `Matcher.find()` semantics (the approach of
  * Cox, "Regular Expression Matching: the Virtual Machine Approach", 2009,
  * over bytes).
  *
  * A row with any byte >= 0x80 takes Spark's exact path instead: decode,
  * `java.util.regex`, re-encode. On an all-ASCII row each byte is one char,
  * so the byte program and Java agree: `.` rejects `\n` and `\r`, `\b`
  * sees `[A-Za-z0-9_]` as word characters and `$` matches at the end or
  * before a final `\n`, `\r` or `\r\n`. Java's Unicode-aware `\b` and
  * `.`'s per-char counting never meet the byte path.
  *
  * Program layout, one `Int` per slot: `Set s` (one byte in set `s`),
  * `Rep s min max` (a greedy run of bytes in `s`), `Split x y` (try `x`,
  * then `y`), `Jmp x`, `Save0`/`Save1` (the group's start and end),
  * `Begin`, `Word`, `End` and `Match`. Every jump goes forward, so one path
  * runs each instruction at most once and the stack needs at most one
  * entry of three slots per instruction: it is sized once per state, and
  * a run allocates nothing per start position. The program is immutable and
  * may be shared; per-call state lives in locals and a [[ByteRegexState]].
  */
final class ByteRegex private (
    regex: Pattern,
    idx: Int,
    code: Array[Int],
    /** 128 flags per set, set `s` at `s * 128`. */
    member: Array[Boolean],
    /** Bytes a match can start with; null when the pattern matches empty. */
    first: Array[Boolean],
    anchored: Boolean) extends Serializable {
  import ByteRegex._

  private val stackSlots = 3 * code.length

  /** `regexp_extract(s, pattern, idx)` as Spark's `RegExpExtract` returns
    * it: the group's text in the first match, or empty when nothing matches
    * or the group took no part in the match.
    */
  def extract(s: UTF8String, state: ByteRegexState): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    if (!ByteKernels.isAscii(base, off, len)) return javaExtract(s, state)
    if (state.stack.length < stackSlots) state.stack = new Array[Int](stackSlots)
    val r = find(base, off, len, state.stack)
    if (r < 0) UTF8String.EMPTY_UTF8
    else ByteKernels.copy(base, off, (r >>> 32).toInt, r.toInt)
  }

  /** Spark's own evaluation. */
  private def javaExtract(s: UTF8String, state: ByteRegexState): UTF8String = {
    if (state.matcher == null) state.matcher = regex.matcher("")
    val m = state.matcher.reset(s.toString)
    if (!m.find()) UTF8String.EMPTY_UTF8
    else {
      val g = m.group(idx)
      if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
    }
  }

  /** The group of the leftmost match, packed as `start << 32 | end`; -1
    * when there is no match or the group is unset.
    */
  private def find(base: AnyRef, off: Long, len: Int, stack: Array[Int]): Long = {
    if (anchored) return math.max(run(base, off, len, 0, stack), -1L)
    var from = 0
    while (from <= len) {
      if (first != null) {
        while (from < len && !first(Platform.getByte(base, off + from))) from += 1
        if (from == len) return -1L
      }
      val r = run(base, off, len, from, stack)
      if (r != NoMatch) return r
      from += 1
    }
    -1L
  }

  /** One attempt at `start`: the packed group, -1 for a match without the
    * group, or [[NoMatch]].
    */
  private def run(base: AnyRef, off: Long, len: Int, start: Int, stack: Array[Int]): Long = {
    var top = 0
    var pc = 0
    var sp = start
    var g0, g1 = -1
    while (true) {
      var ok = true
      (code(pc): @switch) match {
        case OpSet =>
          if (sp < len && member(code(pc + 1) + Platform.getByte(base, off + sp))) {
            sp += 1; pc += 2
          } else ok = false
        case OpRep =>
          val set = code(pc + 1)
          val min = code(pc + 2)
          val lim = if (code(pc + 3) >= len - sp) len else sp + code(pc + 3)
          var k = sp
          while (k < lim && member(set + Platform.getByte(base, off + k))) k += 1
          if (k - sp < min) ok = false
          else {
            if (k - sp > min) { // the shorter runs, longest first
              stack(top) = (pc + 4) << 2 | KLoop; stack(top + 1) = sp + min
              stack(top + 2) = k - 1; top += 3
            }
            sp = k; pc += 4
          }
        case OpSplit =>
          stack(top) = code(pc + 2) << 2 | KAlt; stack(top + 1) = sp; top += 3
          pc = code(pc + 1)
        case OpJmp => pc = code(pc + 1)
        case OpSave0 =>
          stack(top) = KRestore0; stack(top + 1) = g0; top += 3
          g0 = sp; pc += 1
        case OpSave1 =>
          stack(top) = KRestore1; stack(top + 1) = g1; top += 3
          g1 = sp; pc += 1
        case OpBegin => if (sp == 0) pc += 1 else ok = false
        case OpWord =>
          if (isWord(base, off, len, sp - 1) != isWord(base, off, len, sp)) pc += 1 else ok = false
        case OpEnd => if (dollar(base, off, len, sp)) pc += 1 else ok = false
        case OpMatch => return if (g0 < 0) -1L else g0.toLong << 32 | g1
      }
      while (!ok) {
        if (top == 0) return NoMatch
        top -= 3
        val tag = stack(top)
        (tag & 3: @switch) match {
          case KAlt => pc = tag >>> 2; sp = stack(top + 1); ok = true
          case KLoop =>
            pc = tag >>> 2; sp = stack(top + 2); ok = true
            if (sp > stack(top + 1)) { stack(top + 2) = sp - 1; top += 3 }
          case KRestore0 => g0 = stack(top + 1)
          case KRestore1 => g1 = stack(top + 1)
        }
      }
    }
    NoMatch
  }
}

object ByteRegex {
  private final val OpSet = 0
  private final val OpRep = 1
  private final val OpSplit = 2
  private final val OpJmp = 3
  private final val OpSave0 = 4
  private final val OpSave1 = 5
  private final val OpBegin = 6
  private final val OpWord = 7
  private final val OpEnd = 8
  private final val OpMatch = 9

  /** Backtracking entry kinds, in the low two bits of an entry's first slot. */
  private final val KAlt = 0
  private final val KLoop = 1
  private final val KRestore0 = 2
  private final val KRestore1 = 3

  private final val NoMatch = -2L

  /** Java's `.` over ASCII: anything but `\n` and `\r`. */
  private val Dot = BitSet(0 until 128: _*) - '\n' - '\r'

  private val compiled = new PatternMemo[(String, Int), Option[ByteRegex]]

  /** `pattern` compiled for group `idx`, once per JVM while it stays in
    * [[PatternMemo]]; None outside the subset, when `idx` is not in
    * `0..groupCount`, or where `Pattern.compile` throws.
    */
  def compile(pattern: String, idx: Int): Option[ByteRegex] = compiled((pattern, idx)) {
    try Some(build(pattern, idx))
    catch { case Unsupported | _: java.util.regex.PatternSyntaxException => None }
  }

  private def build(pattern: String, idx: Int): ByteRegex = {
    val regex = Pattern.compile(pattern)
    val (body, groups) = RegexSubset.parse(pattern)
    if (groups != regex.matcher("").groupCount() || idx < 0 || idx > groups) throw Unsupported
    import RegexSubset._

    val code = mutable.ArrayBuffer.empty[Int]
    val sets = mutable.ArrayBuffer.empty[BitSet]
    def set(s: BitSet): Int = {
      val k = sets.indexOf(s)
      if (k >= 0) k * 128 else { sets += s; (sets.length - 1) * 128 }
    }
    def atom(r: Re): BitSet = r match {
      case Bytes(s) => s
      case AnyChar => Dot
      case _ => throw Unsupported
    }
    def emit(r: Re): Unit = r match {
      case Bytes(_) | AnyChar => code ++= Seq(OpSet, set(atom(r)))
      case Repeat(a, min, max) =>
        code ++= Seq(OpRep, set(atom(a)), min, if (max < 0) Int.MaxValue else max)
      case Cat(items) => items.foreach(emit)
      case Alt(alts) =>
        val jumps = alts.init.map { a =>
          val split = code.length
          code ++= Seq(OpSplit, split + 3, -1)
          emit(a)
          code ++= Seq(OpJmp, -1)
          code(split + 2) = code.length
          code.length - 2
        }
        emit(alts.last)
        jumps.foreach(j => code(j + 1) = code.length)
      case Group(c, inner) if c == idx && c > 0 => code += OpSave0; emit(inner); code += OpSave1
      case Group(_, inner) => emit(inner)
      case Begin => code += OpBegin
      case WordBoundary => code += OpWord
      case End => code += OpEnd
    }
    if (idx == 0) { code += OpSave0; emit(body); code += OpSave1 } else emit(body)
    code += OpMatch

    /** Bytes that can start a match of `r`, and whether `r` matches empty. */
    def firstOf(r: Re): (BitSet, Boolean) = r match {
      case Bytes(_) | AnyChar => (atom(r), false)
      case Repeat(a, min, _) => (atom(a), min == 0)
      case Cat(items) => items.foldLeft((BitSet.empty, true)) {
        case ((acc, true), item) => val (f, e) = firstOf(item); (acc ++ f, e)
        case (done, _) => done
      }
      case Alt(alts) =>
        val fs = alts.map(firstOf)
        (fs.map(_._1).reduce(_ ++ _), fs.exists(_._2))
      case Group(_, inner) => firstOf(inner)
      case Begin | WordBoundary | End => (BitSet.empty, true)
    }
    val (firstSet, empty) = firstOf(body)
    new ByteRegex(regex, idx, code.toArray,
      sets.flatMap(s => (0 until 128).map(s)).toArray,
      if (empty) null else (0 until 128).map(firstSet).toArray,
      body match { case Cat(Begin :: _) => true; case _ => false })
  }

  /** True iff byte `i` exists and is `[A-Za-z0-9_]`: Java's `\b` word
    * test on ASCII.
    */
  private def isWord(base: AnyRef, off: Long, len: Int, i: Int): Boolean =
    i >= 0 && i < len && {
      val c = Platform.getByte(base, off + i)
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
    }

  /** Java's `$` without MULTILINE, on ASCII: at the end, or before a final
    * `\r\n`, `\r` or a `\n` that does not follow `\r`.
    */
  private def dollar(base: AnyRef, off: Long, len: Int, i: Int): Boolean = {
    def at(k: Int): Byte = Platform.getByte(base, off + k)
    i == len ||
      (i == len - 1 && (at(i) == '\r' || (at(i) == '\n' && !(i > 0 && at(i - 1) == '\r')))) ||
      (i == len - 2 && at(i) == '\r' && at(i + 1) == '\n')
  }
}

/** Word-at-a-time byte kernels over a string's `(base, offset, length)`. */
object ByteKernels {
  /** The class generated code calls. */
  val Name: String = "graft.functions.expressions.ByteKernels"

  private val LittleEndian = ByteOrder.nativeOrder() == ByteOrder.LITTLE_ENDIAN
  private final val Ones = 0x0101010101010101L
  private final val Lows = 0x7F7F7F7F7F7F7F7FL
  private final val Highs = 0x8080808080808080L

  /** The high bit of every zero byte of `x`, and no other bit. */
  private def zeroBytes(x: Long): Long = ~((x & Lows) + Lows | x | Lows)

  def isAscii(base: AnyRef, off: Long, len: Int): Boolean = {
    var i = 0
    var acc = 0L
    while (i + 8 <= len) { acc |= Platform.getLong(base, off + i); i += 8 }
    while (i < len) { acc |= Platform.getByte(base, off + i); i += 1 }
    (acc & Highs) == 0
  }

  /** Bytes `[from, to)` of the string at `(base, off)`, in a fresh array. */
  def copy(base: AnyRef, off: Long, from: Int, to: Int): UTF8String =
    if (from == to) UTF8String.EMPTY_UTF8
    else {
      val b = new Array[Byte](to - from)
      Platform.copyMemory(base, off + from, b, Platform.BYTE_ARRAY_OFFSET, to - from)
      UTF8String.fromBytes(b)
    }

  /** The first index in `[from, to)` holding `b`, or -1. */
  private def indexOfByte(base: AnyRef, off: Long, b: Byte, from: Int, to: Int): Int = {
    val pattern = (b & 0xffL) * Ones
    var i = from
    while (i + 8 <= to) {
      val z = zeroBytes(Platform.getLong(base, off + i) ^ pattern)
      if (z != 0) return i + ((if (LittleEndian) java.lang.Long.numberOfTrailingZeros(z)
        else java.lang.Long.numberOfLeadingZeros(z)) >>> 3)
      i += 8
    }
    while (i < to) {
      if (Platform.getByte(base, off + i) == b) return i
      i += 1
    }
    -1
  }

  /** The last index in `[from, to)` holding `b`, or -1. */
  private def lastIndexOfByte(base: AnyRef, off: Long, b: Byte, from: Int, to: Int): Int = {
    val pattern = (b & 0xffL) * Ones
    var j = to
    while (j - 8 >= from) {
      val z = zeroBytes(Platform.getLong(base, off + j - 8) ^ pattern)
      if (z != 0) return j - 8 + (if (LittleEndian) (63 - java.lang.Long.numberOfLeadingZeros(z)) >>> 3
        else 7 - (java.lang.Long.numberOfTrailingZeros(z) >>> 3))
      j -= 8
    }
    while (j > from) {
      j -= 1
      if (Platform.getByte(base, off + j) == b) return j
    }
    -1
  }

  /** Whether `delim` minus its first byte follows position `i`. */
  private def tailAt(base: AnyRef, off: Long, i: Int, delim: Array[Byte]): Boolean = {
    var k = 1
    while (k < delim.length && Platform.getByte(base, off + i + k) == delim(k)) k += 1
    k == delim.length
  }

  /** `UTF8String.find`: the first start `>= from` of `delim`, or -1. */
  private def indexOf(base: AnyRef, off: Long, len: Int, delim: Array[Byte], from: Int): Int = {
    val last = len - delim.length
    var i = from
    while (i <= last) {
      i = indexOfByte(base, off, delim(0), i, last + 1)
      if (i < 0 || tailAt(base, off, i, delim)) return i
      i += 1
    }
    -1
  }

  /** `UTF8String.rfind`: the last start `<= from` of `delim`, or -1. */
  private def lastIndexOf(base: AnyRef, off: Long, delim: Array[Byte], from: Int): Int = {
    var j = from
    while (j >= 0) {
      j = lastIndexOfByte(base, off, delim(0), 0, j + 1)
      if (j < 0 || tailAt(base, off, j, delim)) return j
      j -= 1
    }
    -1
  }

  /** `s.subStringIndex(delim, count)`, in a fresh array. */
  def substringIndex(s: UTF8String, delim: Array[Byte], count: Int): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    val m = delim.length
    if (m == 0 || count == 0) UTF8String.EMPTY_UTF8
    else if (count > 0) {
      var idx = -1
      var c = count
      while (c > 0) {
        idx = indexOf(base, off, len, delim, idx + 1)
        if (idx < 0) return copy(base, off, 0, len) // fewer delimiters: all of it
        c -= 1
      }
      copy(base, off, 0, idx)
    } else {
      var idx = len - m + 1
      var c = -count
      while (c > 0) {
        idx = lastIndexOf(base, off, delim, idx - 1)
        if (idx < 0) return copy(base, off, 0, len)
        c -= 1
      }
      copy(base, off, idx + m, len)
    }
  }
}
