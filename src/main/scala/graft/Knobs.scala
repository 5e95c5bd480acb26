package graft

/** Environment knobs: a value that does not parse fails with an
  * IllegalArgumentException naming the knob and the value. Hold them in
  * `lazy val`s, so a bad value surfaces at first use rather than as the
  * ExceptionInInitializerError of the object holding it. */
private[graft] object Knobs {
  def long(name: String, raw: String): Long =
    raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$name must be an integer, got '$raw'"))

  /** env var `name` as a long, `default` when unset */
  def envLong(name: String, default: Long): Long =
    sys.env.get(name).fold(default)(long(name, _))
}
