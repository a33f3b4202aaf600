package graft.table

import java.nio.file.Files
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Generative contract for the one manifest grammar ([[Snapshot]]):
  * every manifest the encoder accepts decodes back to itself, every
  * checkpoint fold unfolds to its chain, the protocol gate refuses a
  * body newer than the reader, and no commit lands a token that
  * carries a delimiter (a decode would split it differently from the
  * token the writer meant).
  */
object SnapshotGrammarProps extends Properties("SnapshotGrammar") {

  private val token: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('-', '_', '.')))
  } yield cs.mkString

  private val manifest: Gen[Snapshot.Manifest] = for {
    t <- token
    dv <- Gen.option(token)
    adds <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, token))
    eqs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, for {
      e <- token
      applies <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, token))
    } yield (e, applies)))
    rewriteOf <- Gen.option(Gen.choose(0, 1000))
  } yield Snapshot.Manifest(t, dv, adds, eqs, rewriteOf)

  /** `m` with delimiter `c` planted in one of its tokens (`at` picks
    * which, modulo the number of tokens). */
  private def poisoned(m: Snapshot.Manifest, at: Int,
      c: Char): Snapshot.Manifest = {
    def bad(t: String) = t.take(1) + c + t.drop(1)
    val slots = 1 + m.adds.size + m.dv.size + m.eqs.size
    (at % slots) match {
      case 0 => m.copy(token = bad(m.token))
      case i if i <= m.adds.size =>
        m.copy(adds = m.adds.updated(i - 1, bad(m.adds(i - 1))))
      case i if i == m.adds.size + 1 && m.dv.isDefined =>
        m.copy(dv = m.dv.map(bad))
      case i =>
        val j = i - 1 - m.adds.size - m.dv.size
        val (e, applies) = m.eqs(j)
        m.copy(eqs = m.eqs.updated(j,
          if (at % 2 == 0) (bad(e), applies)
          else (e, applies.updated(0, bad(applies.head)))))
    }
  }

  property("decode(encode(m)) == m") = forAll(manifest) { m =>
    Snapshot.decode(Snapshot.encode(m)) == m
  }

  property("unfold(fold(chain)) == chain") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 100000), token))) { chain =>
      Snapshot.unfold(Snapshot.fold(chain)) == chain
    }

  property("decode refuses a body that needs a newer reader") =
    forAll(manifest, Gen.choose(1, 5)) { (m, ahead) =>
      val future = Snapshot.encode(m) +
        s"\nminReader:${Snapshot.ReaderVersion + ahead}"
      val old = scala.util.Try(Snapshot.decode(Snapshot.encode(m), 1))
      val refusedFuture = scala.util.Try(Snapshot.decode(future)).failed
        .toOption.exists(_.getMessage.contains(
          s"protocol ${Snapshot.ReaderVersion + ahead}"))
      val oldOk =
        if (m.minReader == 1) old.toOption.contains(m)
        else old.failed.toOption.exists(e =>
          e.getMessage.contains("protocol 2") &&
            e.getMessage.contains("supports 1"))
      refusedFuture && oldOk
    }

  property("every commit refuses a token carrying a delimiter") =
    forAll(manifest, Gen.choose(0, 100), Gen.oneOf(':', '=', ',', '\n')) {
      (m, at, c) =>
        val dir = Files.createTempDirectory("graft_grammar_")
        try {
          val refused = scala.util.Try(
            Snapshot.commit(dir.toString, 1, poisoned(m, at, c))).isFailure
          Prop(refused && TableLog.versions(dir.toString).isEmpty) :|
            s"committed ${poisoned(m, at, c)}"
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
}
