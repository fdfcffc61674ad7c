package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{
  ConcurrentStoreWriteException,
  LeaseStore,
  MaintainerLease,
  FsLeaseStore,
  MemBlob,
  MemLeaseStore
}

/** The maintainer-lease protocol laws, run implementation-generically
  * against BOTH [[LeaseStore]] bindings — the POSIX rename-CAS one every
  * DirSwap compactor uses and the in-memory conditional-PUT one that
  * models an S3-class object store — the same two-implementation
  * treatment CommitProtocolLawSpec gives the journal store's commit
  * protocol. Every law below is about the PROTOCOL (claim, break,
  * renew, release), so a binding passing them is deployable under the
  * fence unchanged.
  */
class LeaseSpec extends AnyFunSuite {

  private def bindings(): Seq[(String, LeaseStore)] = Seq(
    "posix" -> new FsLeaseStore(
      Files.createTempDirectory("graft-lease-law").toString
    ),
    // the SAME filesystem binding at a file:// URI root — every primitive
    // routed through the Hadoop FileSystem backend (the HDFS shape)
    "hadoop-file-uri" -> new FsLeaseStore(
      s"file://${Files.createTempDirectory("graft-lease-law-h")}"
    ),
    "mem" -> new MemLeaseStore,
    // the whole FILESYSTEM protocol over the conditional-PUT blob binding
    // (round 16): proves FsLeaseStore itself — not just MemLeaseStore's
    // separate implementation — needs nothing beyond the BlobIo
    // conditional primitives, so an object-store putIfMatch binding slots
    // in under the unchanged protocol
    "mem-blob" -> new FsLeaseStore("law-root", new MemBlob)
  )

  private def claim(s: LeaseStore, leaseMs: Long = 60000L): String =
    MaintainerLease.claimIn(s, "law", leaseMs)

  test("claim is exclusive; release makes the slot claimable again") {
    bindings().foreach { case (name, s) =>
      val t1 = claim(s)
      intercept[ConcurrentStoreWriteException](claim(s))
      MaintainerLease.releaseIn(s, t1)
      val t2 = claim(s)
      assert(t2 != "", s"$name: reclaim after release must succeed")
      MaintainerLease.releaseIn(s, t2)
    }
  }

  test("an expired lease is broken; a live one is not") {
    bindings().foreach { case (name, s) =>
      claim(s, leaseMs = 50L) // holder dies without releasing
      Thread.sleep(120L)
      val breaker = claim(s, leaseMs = 50L) // expired: break succeeds
      // the breaker's claim is now the live one
      intercept[ConcurrentStoreWriteException](claim(s, leaseMs = 60000L))
      MaintainerLease.releaseIn(s, breaker)
      assert(true, s"$name done")
    }
  }

  test("renewal keeps a long-running holder fenced against rivals") {
    bindings().foreach { case (name, s) =>
      // deterministic fixture (the sleep-driven version was timing-
      // fragile under the slower Hadoop binding): the BASE claim stamp
      // is an hour past any lease, but a FRESH renewal side-entry
      // carries the holder's token — the expiry check must read the
      // renewal, not the base stamp, so the rival stays fenced
      val holderTok = s"law-holder ${System.currentTimeMillis() - 3600000L}"
      assert(s.createIfAbsent("maintainer.claim", holderTok))
      s.putNew(
        s"maintainer.claim.r-${System.nanoTime()}",
        s"$holderTok renew ${System.currentTimeMillis()}"
      )
      withClue(s"[$name] ") {
        intercept[ConcurrentStoreWriteException](claim(s, leaseMs = 60000L))
      }
      // the live renewal also survives a verify
      MaintainerLease.verifyIn(s, "law", holderTok)
      MaintainerLease.releaseIn(s, holderTok)
      // once released, the slot is claimable again
      val t2 = claim(s, leaseMs = 60000L)
      MaintainerLease.releaseIn(s, t2)
      assert(true, s"$name done")
    }
  }

  test("corrupt claim (crash mid-write) still lease-expires via mtime — maintenance is never wedged forever") {
    bindings().foreach { case (name, s) =>
      // a crash left a truncated claim: content carries no parsable stamp
      assert(s.createIfAbsent("maintainer.claim", ""))
      // fresh mtime: treated live, claim fails (conservative)
      intercept[ConcurrentStoreWriteException](claim(s, leaseMs = 60000L))
      Thread.sleep(120L)
      // past the lease by mtime: the corrupt claim is breakable
      val t = claim(s, leaseMs = 50L)
      MaintainerLease.releaseIn(s, t)
      assert(true, s"$name done")
    }
  }

  test("two concurrent breakers of one expired lease: at most one wins, the loser publishes nothing") {
    bindings().foreach { case (name, s) =>
      // the stalled holder, stamped a minute ago: expired under the
      // breakers' 5 s lease, while the winner's fresh claim cannot expire
      // in the moment the other breaker races it
      val stalledAt = System.currentTimeMillis() - 60000L
      assert(s.createIfAbsent("maintainer.claim", s"stalled/1 $stalledAt"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]()
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          gate.await()
          results.add(
            try Right(claim(s, leaseMs = 5000L))
            catch { case t: Throwable => Left(t) }
          )
        })
      }
      threads.foreach(_.start())
      gate.countDown()
      threads.foreach(_.join())
      val (losses, wins) =
        results.toArray(Array.empty[Either[Throwable, String]]).partition(_.isLeft)
      assert(wins.size <= 1, s"$name: two breakers must not both win")
      losses.foreach {
        case Left(t) =>
          assert(
            t.isInstanceOf[ConcurrentStoreWriteException],
            s"$name: loser must see the fencing signal, got $t"
          )
        case _ => ()
      }
      // whoever won holds a live claim the store agrees on
      wins.headOption.foreach { case Right(w) =>
        assert(s.read("maintainer.claim").contains(w))
        MaintainerLease.releaseIn(s, w)
      case _ => ()
      }
    }
  }

  test("release landing after a stall cannot delete a rival's re-issued claim (conditional delete)") {
    bindings().foreach { case (name, s) =>
      val stalled = claim(s, leaseMs = 50L)
      Thread.sleep(120L)
      val rival = claim(s, leaseMs = 50L) // breaks the expired lease
      // the stalled holder wakes up and releases — the rival's claim
      // must survive (the round-12 read-then-delete window)
      MaintainerLease.releaseIn(s, stalled)
      assert(
        s.read("maintainer.claim").contains(rival),
        s"$name: a stale release must not remove the rival's live claim"
      )
      intercept[ConcurrentStoreWriteException](claim(s, leaseMs = 60000L))
      MaintainerLease.releaseIn(s, rival)
    }
  }

  test("two-breaker race WITH the stalled holder's release in flight — shrunk lease, claim survives consistent") {
    bindings().foreach { case (name, s) =>
      val stalled = claim(s, leaseMs = 40L)
      Thread.sleep(100L)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val breakers = (1 to 2).map { _ =>
        new Thread(() => {
          gate.await()
          try wins.add(claim(s, leaseMs = 60000L))
          catch { case _: ConcurrentStoreWriteException => () }
        })
      }
      val releaser = new Thread(() => {
        gate.await()
        MaintainerLease.releaseIn(s, stalled) // the stale release, racing
      })
      (breakers :+ releaser).foreach(_.start())
      gate.countDown()
      (breakers :+ releaser).foreach(_.join())
      val winners = wins.toArray(Array.empty[String])
      assert(winners.size <= 1, s"$name: at most one breaker wins")
      winners.headOption match {
        case Some(w) =>
          // the stale release must not have removed the winner's claim
          assert(
            s.read("maintainer.claim").contains(w),
            s"$name: winner's claim must survive the stale release"
          )
          MaintainerLease.releaseIn(s, w)
        case None =>
          // the release won the race before any breaker: slot is free
          val t = claim(s, leaseMs = 60000L)
          MaintainerLease.releaseIn(s, t)
      }
    }
  }

  test("forced triple interleaving — a rival's FULL break lands exactly between a breaker's read and its CAS: at most one winner, by construction") {
    // THE schedule the round-15 displace-verify-restore dance could lose
    // (both breakers reporting success): breaker A reads the expired
    // claim, and before A's compare-and-replace executes, breaker B
    // completes an entire break of the same observed content. With the
    // blob-level CAS (round 16) A's expectation no longer matches and A
    // loses — the slot is never vacated at any point. Forced
    // deterministically via the Mem binding's beforeCas hook.
    val mb = new MemBlob
    val s = new FsLeaseStore("law-root", mb)
    val holderTok = s"stalled-holder ${System.currentTimeMillis() - 3600000L}"
    assert(s.createIfAbsent("maintainer.claim", holderTok))
    val bTok = s"breaker-B ${System.currentTimeMillis()}"
    @volatile var bWon = false
    mb.beforeCas = { _ =>
      mb.beforeCas = _ => () // fire once: B's own CAS must not recurse
      bWon = mb.putIfMatch(
        "law-root/maintainer.claim",
        holderTok.getBytes("UTF-8"),
        bTok.getBytes("UTF-8")
      )
    }
    val aWon =
      try { MaintainerLease.claimIn(s, "law", leaseMs = 50L); true }
      catch { case _: ConcurrentStoreWriteException => false }
    assert(bWon, "B's injected break must win (it matched first)")
    assert(!aWon, "A must lose: its expectation no longer matches")
    assert(
      s.read("maintainer.claim").contains(bTok),
      "B's live claim survives untouched — never displaced, never vacated"
    )
  }

  test("forced triple interleaving — a stale release vacates the slot between a breaker's read and its CAS: the breaker loses cleanly, the slot stays free") {
    val mb = new MemBlob
    val s = new FsLeaseStore("law-root", mb)
    val holderTok = s"stalled-holder ${System.currentTimeMillis() - 3600000L}"
    assert(s.createIfAbsent("maintainer.claim", holderTok))
    @volatile var released = false
    mb.beforeCas = { _ =>
      mb.beforeCas = _ => ()
      // the stalled holder's release lands mid-break (conditional delete
      // with the matching content — legitimate)
      released = mb.deleteIfMatch(
        "law-root/maintainer.claim",
        holderTok.getBytes("UTF-8")
      )
    }
    val aWon =
      try { MaintainerLease.claimIn(s, "law", leaseMs = 50L); true }
      catch { case _: ConcurrentStoreWriteException => false }
    assert(released, "the release must win (it matched first)")
    assert(!aWon, "the breaker's CAS finds the slot gone and loses cleanly")
    assert(s.read("maintainer.claim").isEmpty, "slot legitimately free")
    // and a fresh claim takes it without contention
    val t = claim(s)
    MaintainerLease.releaseIn(s, t)
  }

  test("a superseded holder's renewals do not extend the new holder's expiry check") {
    bindings().foreach { case (name, s) =>
      val old = claim(s, leaseMs = 50L)
      Thread.sleep(120L)
      val rival = claim(s, leaseMs = 50L)
      assert(rival.nonEmpty)
      // the old holder's heartbeat fires late: the side-entry lands but
      // carries the OLD token — it must fence (verify throws), and its
      // stamp must not keep the RIVAL's lease fresh
      intercept[ConcurrentStoreWriteException](
        MaintainerLease.renewIn(s, "law", old)
      )
      Thread.sleep(300L)
      // the rival never renewed: its lease expires on schedule despite
      // the old holder's fresher side-entry
      val third = claim(s, leaseMs = 200L)
      MaintainerLease.releaseIn(s, third)
      assert(true, s"$name done")
    }
  }
}
