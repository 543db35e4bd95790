package graftbench

/** Seeded event generators. Every event is a pure function of
  * (seed, index), so the streaming run and the batch-mode parity build
  * regenerate exactly the same events without shipping them around.
  */
object Gen {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** uniform in [0, n) for draw `k` of event `i` */
  def draw(seed: Long, i: Long, k: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(mix(seed * 0x100000001B3L + i) + k), n.toLong).toInt

  private val Programs = Array("sshd", "cron", "kernel", "nginx", "postfix", "dockerd", "systemd", "sudo")
  private val Words = Array("login", "accepted", "failed", "session", "opened", "closed", "user",
    "request", "timeout", "upstream", "connection", "reset", "disk", "quota", "exceeded", "job",
    "started", "finished", "retry", "queue", "token", "expired", "cache", "miss")

  /** 4 % of syslog lines are poison: they never match the RFC3164 grammar. */
  def syslogPoison(seed: Long, i: Long): Boolean = draw(seed, i, 0, 100) < 4

  /** One FIXTURES §1 syslog line: `<PRI>TIMESTAMP HOST PROGRAM[PID]: @cee:{json}`.
    * pid is uniform in [0, 1000), so both sides of docbuilder's pid < 100
    * type flip occur. The message has 3 to 14 words: each line's length
    * depends on the seed, their distribution does not, so seeds differ in
    * content but not in the work they imply. */
  def syslog(seed: Long, i: Long): String =
    if (syslogPoison(seed, i)) s"garbage record $i without a syslog header"
    else {
      val sb = new java.lang.StringBuilder(160)
      sb.append('<').append(draw(seed, i, 1, 192)).append('>')
      sb.append("2021-01-02T15:")
      val min = draw(seed, i, 2, 60); val sec = draw(seed, i, 3, 60)
      if (min < 10) sb.append('0'); sb.append(min).append(':')
      if (sec < 10) sb.append('0'); sb.append(sec).append('.')
      sb.append(100000 + draw(seed, i, 4, 900000)).append("-07:00 ")
      sb.append("host").append(draw(seed, i, 5, 16)).append(".example.org ")
      sb.append(Programs(draw(seed, i, 6, Programs.length)))
      sb.append('[').append(draw(seed, i, 7, 1000)).append("]: @cee:{\"msg\":\"")
      val words = 3 + draw(seed, i, 8, 12)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(' ')
        sb.append(Words(draw(seed, i, 9 + w, Words.length)))
        w += 1
      }
      sb.append("\",\"user\":").append(draw(seed, i, 30, 100000)).append('}')
      sb.toString
    }

  /** String test-kit event class for the async dead-letter tree. */
  object Kind {
    val Filtered = 0   // filternode drops it
    val Errored = 1    // errornode dead-letters it
    val RpcFailed = 2  // asyncrpcnode dead-letters it
    val RpcSkipped = 3 // asyncrpcnode filters it
    val Ok = 4
  }

  def kitKind(seed: Long, i: Long): Int = {
    val d = draw(seed, i, 0, 100)
    if (d < 10) Kind.Filtered else if (d < 25) Kind.Errored
    else if (d < 40) Kind.RpcFailed else if (d < 45) Kind.RpcSkipped else Kind.Ok
  }

  def kit(seed: Long, i: Long): String = {
    val prefix = kitKind(seed, i) match {
      case Kind.Filtered => "filterme"
      case Kind.Errored => "error"
      case Kind.RpcFailed => "rpcfail"
      case Kind.RpcSkipped => "skip"
      case _ => "ok"
    }
    s"$prefix-$i-" + Words(draw(seed, i, 1, Words.length)) * (1 + draw(seed, i, 2, 4))
  }
}
