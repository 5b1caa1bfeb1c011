package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Deterministic payload landing-zone generator for stress/scenario runs:
  * n single-payload JSON files in the two reference shapes
  * (/root/reference/src/mining/utils/extract.py payload contract;
  * tests/test_transform.py:8-14,30-36), named in monotonically increasing
  * sort order (the PayloadJsonSource offset contract). Files alternate
  * price/hashrate with server timestamps spaced 20 s apart, so a
  * corpus of n files spans 20n seconds of 5-minute windows.
  *
  * This simulates the INGEST infrastructure (the reference's aiohttp poll
  * loop writing a landing zone), not the engine — generation is a driver
  * loop because a landing zone is populated by an external producer; the
  * engine only ever lists and reads it.
  */
object PayloadCorpus {

  /** Generate (idempotently, stamped with `n`) and return the dir path:
    * server timestamps start at 2021-01-01T00:00:00Z, 20 s apart. */
  def ensure(name: String, n: Int): String =
    graft.Fs.staged("payload_corpus", name, s"v1|n=$n") { dir =>
      var i = 0
      while (i < n) {
        val ts = 1609459200L + i * 20L
        val json =
          if (i % 2 == 0)
            s"""{"spider_ts": $ts, "price_data": {"USD": ${50000 + i % 997}, "time": $ts}}"""
          else
            s"""{"spider_ts": $ts, "hash_rate_data": {"currentHashrate": ${1000 + i}, "currentDifficulty": ${500 + i}}}"""
        Files.write(dir.resolve(f"payload_$i%07d.json"),
          json.getBytes(StandardCharsets.UTF_8))
        i += 1
      }
    }
}
