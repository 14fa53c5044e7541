package graft.operators

/** The reference's eight plugin apps (SURVEY §2.2), minus the pure
  * scheduler probes (jobcount/mtiming/rtiming/crash timing behavior — those
  * are *harness* capabilities covered by Spark task retry/speculation and
  * exercised in the test suite, not engine operators).
  */
object Apps {

  /** Word count — reference `src/mrapps/wc.go:19-40`: tokenize on
    * non-letter runes, emit (word, "1"); reduce = number of values, a
    * count monoid, so `MapReduce.run` combines it per file.
    */
  object WordCount extends AlgebraicApp[Long] {
    def map(file: String, contents: String): IterableOnce[KV] =
      contents.split(graft.functions.TextFns.TokenSplitRegex).iterator
        .filter(_.nonEmpty).map(w => KV(w, "1"))
    def zero: Long = 0L
    def fold(n: Long, value: String): Long = n + 1
    def merge(a: Long, b: Long): Long = a + b
    def finish(n: Long): String = n.toString
  }

  /** Inverted index — reference `src/mrapps/indexer.go:20-39`: per-document
    * distinct words → (word, file); reduce = "<count> <sorted,docs,csv>".
    */
  object Indexer extends MRApp {
    def map(file: String, contents: String): IterableOnce[KV] =
      contents.split(graft.functions.TextFns.TokenSplitRegex).iterator
        .filter(_.nonEmpty).distinct.map(w => KV(w, file))
    def reduce(key: String, values: Seq[String]): String =
      s"${values.size} ${values.sorted.mkString(",")}"
  }

  /** Per-file record count — the early-exit app's pure semantics
    * (reference `src/mrapps/early_exit.go:19-36`, without the sleep probe).
    */
  object PerFileCount extends MRApp {
    def map(file: String, contents: String): IterableOnce[KV] = Iterator(KV(file, "1"))
    def reduce(key: String, values: Seq[String]): String = values.size.toString
  }

  /** Fixed-key fold — the crash/nocrash apps' pure semantics (reference
    * `src/mrapps/nocrash.go:17-47`): per input file emit a=file, b=len(file),
    * c=len(contents), d="xyzzy"; reduce = sorted space-joined values.
    */
  object KvFold extends MRApp {
    def map(file: String, contents: String): IterableOnce[KV] = Iterator(
      KV("a", file),
      KV("b", file.length.toString),
      KV("c", contents.length.toString),
      KV("d", "xyzzy"))
    def reduce(key: String, values: Seq[String]): String =
      values.sorted.mkString(" ")
  }
}
