package fixture

object Calls {
  val n = Api.named(1, c = 3)
  val p = Api.positional(1, 2)
  // fits only the three-parameter overload, so `over(b)` stays unpassed
  val o = Api.over("s", "t", "v")
  val c = Api.curried(1)(2, 3)
}
