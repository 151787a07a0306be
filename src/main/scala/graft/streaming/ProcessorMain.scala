package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Processor launcher (O13 — /root/reference/cmd/processor/main.go:25-55):
  * runs the selected subset of {collector, detector, flagger} as streaming
  * queries under one session ([[KafkaTopology.runProcessors]]) and blocks
  * until any terminates (the errgroup analog is `awaitAnyTermination`).
  *
  * Usage: runMain graft.streaming.ProcessorMain --brokers host:port
  *        --state /path [--collector] [--detector] [--flagger]
  * (no processor flags = run all three, like the reference's Makefile
  * target). Requires a Kafka cluster + the Kafka connector jar on the
  * classpath — see [[KafkaTopology]].
  */
object ProcessorMain {
  /** Parsed command line: where the brokers and the state live, and which
    * processors to run. */
  final case class Args(brokers: String, stateDir: String, processors: Set[String])

  /** Parses the command line; a missing `--brokers` or `--state`, or a
    * flag in place of its value, throws `IllegalArgumentException`. */
  def parse(args: Seq[String]): Args = {
    val opts = graft.Cli.values(args, Set("--brokers", "--state"))
    def need(k: String) =
      opts.getOrElse(k, throw new IllegalArgumentException(s"$k required"))
    val chosen = KafkaTopology.Processors.filter(p => args.contains(s"--$p")).toSet
    Args(need("--brokers"), need("--state"),
      if (chosen.isEmpty) KafkaTopology.Processors.toSet else chosen)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = graft.GraftSession.builder("graft-processors").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    KafkaTopology.runProcessors(spark, KafkaTopology.depositSource(spark, a.brokers),
      KafkaTopology.flagEventSink(_, a.brokers), KafkaTopology.flagEventSource(spark, a.brokers),
      a.stateDir, a.processors, Trigger.ProcessingTime("5 seconds"))
    spark.streams.awaitAnyTermination()
  }
}
