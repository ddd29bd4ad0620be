package perfbench

import graft.examples.MachineEvent
import graft.streaming.SessionEvent

/** One generated machine event: the reference's machineFish payload
  * (Started/Stopped with an order id) inside the event envelope
  * (source, per-source offset, lamport, timestamp). */
final case class Ev(machine: String, source: String, offset: Long,
                    lamport: Long, tsMicros: Long, started: Boolean,
                    order: String) {
  def toMachineEvent: MachineEvent =
    MachineEvent(source, machine, lamport, tsMicros, started, order)
  def toSessionEvent: SessionEvent =
    SessionEvent(machine, lamport, started, order, tsMicros)
}

/** Deterministic machine event log. Every event picks one of `machines`
  * uniformly at random from the seeded generator; a machine alternates
  * Started and Stopped, a start opens a fresh order id and the next stop
  * closes it. With `primed`, the log opens with one event per machine in
  * a seeded random order, so every later event replaces a row the view
  * already holds. Machine `m` belongs to source `m % sources`, and each
  * source numbers its own events from 0. Timestamps advance by
  * `stepMicros` per event, so they follow the lamport order. */
final class MachineLog(seed: Long, machines: Int, primed: Boolean = false,
                       sources: Int = 8, stepMicros: Long = 2500L) {
  private val rng = new java.util.SplittableRandom(seed)
  private val running = new Array[Boolean](machines)
  private val orders = new Array[String](machines)
  private val offsets = new Array[Long](sources)
  private var lamport = 0L
  private val opening: Array[Int] =
    if (!primed) Array.empty
    else {
      val a = Array.range(0, machines)
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }

  def next(): Ev = {
    val m = if (lamport < opening.length) opening(lamport.toInt) else rng.nextInt(machines)
    val src = m % sources
    val started = !running(m)
    running(m) = started
    if (started) orders(m) = "O" + lamport
    val e = Ev(MachineLog.name(m), "edge-" + src, offsets(src), lamport,
      MachineLog.T0Micros + lamport * stepMicros, started, orders(m))
    offsets(src) += 1
    lamport += 1
    e
  }

  def take(n: Int): Vector[Ev] = Vector.fill(n)(next())
}

object MachineLog {
  /** 2023-11-14T22:13:20Z, the log's first timestamp. */
  val T0Micros: Long = 1700000000000000L

  def name(m: Int): String = {
    val digits = m.toString
    "Drill" + "0" * (5 - digits.length) + digits
  }
}
