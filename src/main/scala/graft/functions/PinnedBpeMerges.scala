package graft.functions

/** The pinned BPE merge table — trained by [[Bpe.trainPinned]]
  * (documents of /root/testdata/sf0.01, doc_id < 500, 78 merges) and
  * checked in so every query at every scale factor tokenizes with the
  * SAME deterministic table and the oracle SQL can embed it as
  * literals. 78 merges (round-18, was 64) puts the slice at ~1.32
  * tokens/word — the ratio real ~50k-merge BPE vocabularies produce
  * on English text — which is as realistic as this fixture can get:
  * its synthetic corpus has only 31 distinct words (symbol budget
  * 107), the trainer's <2-frequency stop lands at 89 merges, and at
  * 89 every word is ONE token (a memorized vocabulary — degenerate).
  * SCALE_CURVE.md "Round-18: BPE pin raised 64 → 78 merges" has the
  * full merges → tokens/word curve. Regenerate
  * via [[graft.tools.BpeTrainTool]]; BpeSpec retrains from the slice
  * and fails the build if this pin drifts. */
private[functions] object PinnedBpeMerges {
  val table: Vector[(String, String)] = Vector(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"),
    ("in", "e"), ("l", "ine"), ("a", "b"), ("ab", "l"),
    ("abl", "e"), ("at", "a"), ("d", "ata"), ("t", "able"),
    ("u", "p"), ("a", "g"), ("ag", "g"), ("a", "lu"),
    ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey"),
    ("a", "m"), ("e", "am"), ("r", "eam"), ("st", "ream"),
    ("d", "ow"), ("in", "dow"), ("w", "indow"), ("par", "k"),
    ("s", "park"), ("g", "r"), ("gr", "o"), ("gro", "up"),
    ("par", "t"), ("b", "i"))
}
