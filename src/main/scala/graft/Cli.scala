package graft

/** Command-line options shared by the engine's flag-style mains. */
object Cli {
  /** The value after each of `keys` in `args`. A value that starts with
    * `--` is another flag, not a value, and throws
    * `IllegalArgumentException` naming the key it follows. */
  def values(args: Seq[String], keys: Set[String]): Map[String, String] =
    args.sliding(2).collect {
      case Seq(k, v) if keys(k) =>
        require(!v.startsWith("--"), s"$k needs a value, got the flag $v")
        k -> v
    }.toMap
}
