package graft.cdc

import scala.collection.mutable

/** A topic-level trie over a SET of MQTT patterns — the reference's
  * per-message dispatch loop (`lib/nats.js:92-95`: for each message,
  * linearly re-match every subscription) compiled into one structure:
  * [[dispatch]] walks the topic's levels ONCE and returns every matching
  * pattern index, so per-message cost is O(depth × frontier), not
  * O(#subscriptions × depth). At thousands of logical subscriptions —
  * the shape the reference's `subs` map invites — this is the difference
  * between dispatch scaling with the subscription count or not.
  * The benchmark measures both on its own frames (perfbench, `bus_live`
  * traced): `cdc.dispatch_ns_per_frame` against
  * `cdc.linear_dispatch_ns_per_frame` at 600 subscriptions, and their
  * `.k5` / `.k150` variants at 5 and 150 — the trie stays flat in k; the
  * loop is linear in it.
  *
  * Semantics are exactly [[MqttPattern.matches]] (one spec asserts the
  * equivalence property): '+'/named '+' = one NON-empty level; an empty
  * topic level matches only an empty pattern level; terminal '#' eats
  * the tail, where a ZERO-level tail matches the bare '#' only; a '#'
  * before the last level never matches; full-length consumption
  * otherwise.
  */
final class MqttTrie private (root: MqttTrie.Node, val numPatterns: Int)
    extends Serializable {

  /** Indices (ascending) of all patterns matching `topic`.
    *
    * Hot-path notes: every frontier node is reachable by exactly one
    * trie path, so the frontier never holds duplicates and no set/dedup
    * structure is needed — hits collect into a primitive buffer and one
    * sort orders them. Node index lists are frozen to `Array[Int]` at
    * build time; the only per-row allocations are the split, two small
    * frontier lists, and the result. */
  def dispatch(topic: String): Array[Int] = {
    val ts = topic.split("/", -1)
    val n = ts.length
    var hits = new Array[Int](8)
    var nh = 0
    def add(a: Array[Int]): Unit = {
      if (a.length > 0) {
        if (nh + a.length > hits.length)
          hits = java.util.Arrays.copyOf(hits, math.max(hits.length * 2, nh + a.length))
        System.arraycopy(a, 0, hits, nh, a.length)
        nh += a.length
      }
    }
    var cur = new java.util.ArrayList[MqttTrie.Node](4)
    var nxt = new java.util.ArrayList[MqttTrie.Node](4)
    cur.add(root)
    var i = 0
    while (!cur.isEmpty) {
      val topicEmpty = i >= n || ts(i).isEmpty
      var j = 0
      while (j < cur.size) {
        val node = cur.get(j)
        // '#' children at this level absorb the tail; a zero-level tail
        // (empty/missing topic level) matches the bare '#' only
        add(node.hashBareA)
        if (!topicEmpty) add(node.hashNamedA)
        // patterns ending here accept iff the topic ends here too
        if (i == n) add(node.terminalA)
        if (topicEmpty) {
          // empty/missing topic level: only an empty pattern level advances
          val c = node.children.getOrElse("", null)
          if (c != null) nxt.add(c)
        } else {
          val c = node.children.getOrElse(ts(i), null)
          if (c != null) nxt.add(c)
          if (node.plus != null) nxt.add(node.plus)
        }
        j += 1
      }
      val t = cur; cur = nxt; nxt = t; nxt.clear()
      i += 1
    }
    val out = java.util.Arrays.copyOf(hits, nh)
    java.util.Arrays.sort(out)
    out
  }
}

object MqttTrie {

  private[cdc] final class Node extends Serializable {
    val children = mutable.HashMap.empty[String, Node]
    var plus: Node = _
    val hashBare = mutable.ArrayBuffer.empty[Int]
    val hashNamed = mutable.ArrayBuffer.empty[Int]
    val terminal = mutable.ArrayBuffer.empty[Int]
    // frozen copies for the dispatch hot path (set by freeze())
    var hashBareA: Array[Int] = _
    var hashNamedA: Array[Int] = _
    var terminalA: Array[Int] = _
    def freeze(): Unit = {
      hashBareA = hashBare.toArray
      hashNamedA = hashNamed.toArray
      terminalA = terminal.toArray
      if (plus != null) plus.freeze()
      children.valuesIterator.foreach(_.freeze())
    }
  }

  /** Compile the pattern list; indices into `patterns` are what
    * [[MqttTrie.dispatch]] returns. */
  def apply(patterns: Seq[String]): MqttTrie = {
    val root = new Node
    patterns.zipWithIndex.foreach { case (pattern, idx) =>
      val ps = pattern.split("/", -1)
      val hashAt = ps.indexWhere(s => s.nonEmpty && s.charAt(0) == '#')
      if (hashAt >= 0 && hashAt != ps.length - 1) {
        // '#' before the last level can never match (MqttPattern.matches
        // returns false once it reaches it) — the pattern is dead
      } else {
        var node = root
        val depth = if (hashAt >= 0) hashAt else ps.length
        var i = 0
        while (i < depth) {
          val p = ps(i)
          node =
            if (p.nonEmpty && p.charAt(0) == '+') {
              if (node.plus == null) node.plus = new Node
              node.plus
            } else node.children.getOrElseUpdate(p, new Node)
          i += 1
        }
        if (hashAt >= 0) {
          if (ps(hashAt).length > 1) node.hashNamed += idx else node.hashBare += idx
        } else node.terminal += idx
      }
    }
    root.freeze()
    new MqttTrie(root, patterns.length)
  }
}
