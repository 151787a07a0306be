package graft.model

/** Typed records of the streaming layer. [[Counter]], [[FlagEvent]] and
  * [[FlagValue]] are the processors' state and event types, and mirror
  * three of the reference's five protobuf messages (detector.proto:14-17,
  * flagger.proto:15-23); the wire layout of all five is described once in
  * [[graft.serde.ProtoWire]]. Money stays Double on purpose — the
  * reference sums IEEE-754 floats (service/service.go:138); see SURVEY
  * §2.3.7.
  */

/** Detector state: rolling-window start (unix secs; 0 = no window open) and
  * the running sum received inside the window
  * (/root/reference/proto/detector.proto:14-17). */
final case class Counter(rollingPeriodStartUnix: Long, received: Double)

/** Detector → flagger event (/root/reference/proto/flagger.proto:15-18). */
final case class FlagEvent(flagRemoved: Boolean, rollingPeriodStartUnix: Long)

/** Flagger state, last-write-wins (/root/reference/proto/flagger.proto:20-23). */
final case class FlagValue(flagged: Boolean, rollingPeriodStartUnix: Long)

/** A deposit with its processing timestamp — the shape the streaming layer
  * consumes (the reference's Deposit has no time field; Goka uses wall clock,
  * /root/reference/detector/detector.go:57). */
final case class TimedDeposit(walletId: String, amount: Double, tsUnix: Long,
                              seq: Long = 0L)

/** Wire shape of a flag event keyed by wallet (detector output + the manual
  * CLI injector, /root/reference/cmd/flag-wallet/main.go:26-33). */
final case class KeyedFlagEvent(
    walletId: String, flagRemoved: Boolean, rollingPeriodStartUnix: Long,
    seq: Long)
