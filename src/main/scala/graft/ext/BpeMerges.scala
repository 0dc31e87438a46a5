package graft.ext

/** GENERATED by `Test/runMain graft.BpePinGen` -- do not hand-edit.
  * See BpePinGen's scaladoc for the training provenance.
  */
object BpeMerges {
  /** (left, right, merged) in rank order. */
  val Default: Seq[(String, String, String)] = Seq(
    ("e", "r", "er"),
    ("i", "n", "in"),
    ("o", "w", "ow"),
    ("o", "r", "or"),
    ("s", "t", "st"),
    ("m", "er", "mer"),
    ("a", "t", "at"),
    ("l", "u", "lu"),
    ("a", "r", "ar"),
    ("p", "ar", "par"),
    ("j", "o", "jo"),
    ("jo", "in", "join"),
    ("a", "s", "as"),
    ("as", "h", "ash"),
    ("h", "ash", "hash"),
    ("r", "ow", "row"),
    ("at", "c", "atc"),
    ("atc", "h", "atch"),
    ("b", "atch", "batch"),
    ("a", "n", "an"))
}
