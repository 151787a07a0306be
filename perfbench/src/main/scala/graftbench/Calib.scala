package graftbench

/** Host-condition probes, run before and after every measured phase (the
  * same three probes `graft.Bench` records): a single-thread ALU loop, the
  * same loop on every core at once, and a single-thread streaming read of
  * a 64 MiB array. A run whose probes read well above the clean-host
  * values was measured under contention, and its own output says so. */
object Calib {
  @volatile private var sink = 0L

  private def burn(): Long = {
    var x = 1469598103934665603L; var i = 0
    while (i < 100000000) { x = x * 1099511628211L + i; i += 1 }
    x
  }

  private def membw(arr: Array[Long]): Double = {
    val t = System.nanoTime()
    var pass = 0
    while (pass < 32) {
      var i = 0; var s = 0L
      while (i < arr.length) { s += arr(i); i += 1 }
      sink += s; pass += 1
    }
    (System.nanoTime() - t) / 1e9
  }

  def probe(): Map[String, Double] = {
    val t1 = System.nanoTime(); sink += burn()
    val one = (System.nanoTime() - t1) / 1e9
    val threads = (1 to Runtime.getRuntime.availableProcessors).map(_ =>
      new Thread(() => { sink += burn() }))
    val t2 = System.nanoTime(); threads.foreach(_.start()); threads.foreach(_.join())
    val all = (System.nanoTime() - t2) / 1e9
    val bw = membw(new Array[Long](8 << 20))
    Map("alu_1t_s" -> one, "alu_allcore_s" -> all, "membw_s" -> bw)
  }
}
