package graft.kg

/**
 * The kernel's per-task token table: open addressing with linear probing
 * over primitive arrays, keyed on a token's ASCII-lower-cased chars. Entry
 * `e` holds, beside its key's place, two ints: the token's word id after
 * P3 digit zeroing (`wordOf`) and its gazetteer-token id or -1 (`gazOf`).
 * A lookup reads the token straight from the caller's `char[]`, so a hit
 * builds nothing; a miss builds the token's lower-cased `String` once, for
 * `wordOf` and `gazOf`. The table holds at most [[TokenTable.Cap]] tokens and clears
 * when full, as the scoring memo does; the ids a caller has read stay
 * valid. Not thread-safe: one per task.
 */
final class TokenTable(wordOf: String => Int, gazOf: String => Int) {
  import TokenTable._

  // A hit reads one slot and one entry: slot s is (entry + 1 or 0 when
  // empty, hash) at slots(2s), and entry e is (key start, key length, word
  // id, gazetteer-token id) at entries(4e); its key is keys[start, start + length).
  private var slots = new Array[Int](2048)
  private var entries = new Array[Int](4 * 512)
  private var keys = new Array[Char](4096)
  private var size = 0
  private var keyEnd = 0

  def word(e: Int): Int = entries(4 * e + 2)
  def gaz(e: Int): Int = entries(4 * e + 3)

  /** The entry of text[from, until) lower-cased, whose [[TokenTable.hash]]
    * is `h`: found, or added. */
  def entry(text: Array[Char], from: Int, until: Int, h: Int): Int = {
    val mask = (slots.length >> 1) - 1
    var s = spread(h) & mask
    var e = slots(2 * s) - 1
    while (e >= 0 && !(slots(2 * s + 1) == h && sameKey(e, text, from, until))) {
      s = (s + 1) & mask
      e = slots(2 * s) - 1
    }
    if (e >= 0) e else add(text, from, until, h)
  }

  private def sameKey(e: Int, text: Array[Char], from: Int, until: Int): Boolean = {
    val a = entries(4 * e)
    val n = until - from
    if (entries(4 * e + 1) != n) return false
    var i = 0
    while (i < n && keys(a + i) == lower(text(from + i))) i += 1
    i == n
  }

  private def add(text: Array[Char], from: Int, until: Int, h: Int): Int = {
    if (size == Cap) clear()
    if (4 * (size + 1) > slots.length) rehash(2 * slots.length)
    if (4 * size == entries.length) entries = java.util.Arrays.copyOf(entries, 2 * entries.length)
    val n = until - from
    if (keys.length < keyEnd + n) keys = java.util.Arrays.copyOf(keys, math.max(2 * keys.length, keyEnd + n))
    var i = 0
    while (i < n) { keys(keyEnd + i) = lower(text(from + i)); i += 1 }
    val token = new String(keys, keyEnd, n)
    entries(4 * size) = keyEnd
    entries(4 * size + 1) = n
    entries(4 * size + 2) = wordOf(token)
    entries(4 * size + 3) = gazOf(token)
    keyEnd += n
    place(size, h)
    size += 1
    size - 1
  }

  /** Puts entry e, of hash h, in the first empty slot of its probe sequence. */
  private def place(e: Int, h: Int): Unit = {
    val mask = (slots.length >> 1) - 1
    var s = spread(h) & mask
    while (slots(2 * s) != 0) s = (s + 1) & mask
    slots(2 * s) = e + 1
    slots(2 * s + 1) = h
  }

  private def rehash(n: Int): Unit = {
    val old = slots
    slots = new Array[Int](n)
    var s = 0
    while (s < old.length) {
      if (old(s) != 0) place(old(s) - 1, old(s + 1))
      s += 2
    }
  }

  private def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    size = 0
    keyEnd = 0
  }
}

object TokenTable {
  /** The most tokens a table holds before it clears. */
  val Cap: Int = 1 << 16

  private def lower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** The table's hash of a token, char by char from 0: `31 * h` plus the
    * char, lower-cased. */
  def hash(h: Int, c: Char): Int = 31 * h + lower(c)

  private def spread(h: Int): Int = { val x = h * 0x9E3779B9; x ^ (x >>> 16) }
}
