package fixture

// Defaults for tools/unused_api_check.py: Calls.scala passes some of them
// by name, by position, through one of two overloads and in a second
// parameter list, and leaves the others unpassed.
object Api {
  def named(a: Int, b: Int = 1, c: Int = 2): Int = a + b + c

  def positional(a: Int, b: Int = 1, c: Int = 2): Int = a + b + c

  def over(a: Int, b: Int = 1): Int = a + b
  def over(s: String, t: String, u: String = "u"): String = s + t + u

  def curried(a: Int, b: Int = 1)(c: Int, d: Int = 2): Int = a + b + c + d

  private def hidden(a: Int = 1): Int = a
}
