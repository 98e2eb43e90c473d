"""Seeded input generators of the benchmark's workloads.

Every generator is a pure function of its seed (and of the sizes it is
given): the same seed yields byte-identical shard files, appended lines and
corpus rows. Wall-clock time never enters a generated byte; the open-loop
appender only decides *when* a pre-generated line is written.

Stream records are ~1 KB nested JSON documents wrapped in the shard-file
envelope the program's file-backed source reads (`shard-<id>.jsonl`, one
`{sequenceNumber, partitionKey, data, approximateArrivalTimestamp}` object
per newline-terminated line).
"""
import os
import random
import threading
import time

# The CLI `-filter` of both stream workloads: gates on `k` (about half the
# records pass) and projects four fields, one through a function call.
FILTER = "k >= `50` && {id: id, t: t, src: meta.src, top: max_by(items, &score).name}"

ARRIVAL_BASE_MS = 1_700_000_000_000
# Record ids and per-shard sequence numbers of the live phases start here;
# the backlog's start at 0.
LIVE_BASE = {"warm": 10 ** 9, "main": 2 * 10 ** 9}

_SYLLABLES = ["ka", "ro", "mi", "tu", "sen", "dal", "vor", "pi", "lek", "no",
              "sha", "gru", "bel", "fin", "zo", "qua", "rith", "mon", "tex", "ul"]


def _pseudo_words(n, seed):
    rng = random.Random(seed)
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# Fixed dictionaries (independent of the run seed, so they are identical on
# every run and every commit).
_WORDS512 = _pseudo_words(512, 7)
_SRCS = ["sensor-%02d" % i for i in range(24)]
_REGIONS = ["us-west-1", "us-east-2", "eu-central-1", "ap-south-1", "sa-east-1"]
_TAGS = _pseudo_words(40, 11)


# ---------------------------------------------------------------- stream docs

_DOC = ('{"id":%d,"k":%d,"t":%d,"meta":{"src":"%s","region":"%s","host":"host-%03d",'
        '"ver":%d,"tags":["%s","%s","%s"]},"items":[%s],'
        '"metrics":{"cpu":%d,"mem":%d,"lat":[%s]},"note":"%s"}')
_ITEM = '{"name":"item-%05d","score":%d,"qty":%d,"sku":"SKU-%08X"}'


def stream_doc(rng, rec_id, t):
    """One ~1 KB nested document as compact JSON text, plus the fields its
    expected filter output needs: (text, k, src, top). Item scores are
    distinct by construction (score = 8 * draw + position), so
    `max_by(items, &score)` has a unique answer. Every value is a direct
    draw of random bits, which keeps generation cheap."""
    bits = rng.getrandbits

    def pick(n):  # uniform-enough index in [0, n) from 16 bits
        return (bits(16) * n) >> 16

    k = pick(100)
    src = _SRCS[pick(len(_SRCS))]
    region = _REGIONS[pick(len(_REGIONS))]
    host, ver = bits(9), 1 + bits(3)
    tags = [_TAGS[pick(len(_TAGS))] for _ in range(3)]
    items, best, top = [], -1, None
    for j in range(7):
        name, score = pick(100000), bits(7) * 8 + j
        items.append(_ITEM % (name, score, 1 + bits(5), bits(32)))
        if score > best:
            best, top = score, "item-%05d" % name
    cpu, mem = pick(100), bits(20)
    lat = ",".join([str(bits(10)) for _ in range(8)])
    note = " ".join([_WORDS512[bits(9)] for _ in range(26)])
    text = _DOC % (rec_id, k, t, src, region, host, ver, tags[0], tags[1], tags[2],
                   ",".join(items), cpu, mem, lat, note)
    return text, k, src, top


def expected_line(rec_id, t, k, src, top):
    """What the filter must emit for a record, as a parsed JSON value, or
    None when the record is gated out. Computed from the generator's own
    draws, not from the program."""
    if k < 50:
        return None
    return {"id": rec_id, "t": t, "src": src, "top": top}


def envelope_line(rec_id, text, shard, seq, arrival_ms):
    """The shard-file line carrying document `text` (newline-terminated).
    Its sequence number is the shard number followed by `seq` in at least
    12 digits, so it grows with `seq` within a shard.
    Generated text holds no backslash or control character, so escaping
    its quotes is the whole JSON string encoding."""
    return ('{"sequenceNumber":"%d%012d","partitionKey":"pk-%d","data":"%s",'
            '"approximateArrivalTimestamp":%d}\n'
            % (shard + 1, seq, rec_id % 97, text.replace('"', '\\"'), arrival_ms))


def shard_name(shard):
    return "shard-%04d.jsonl" % shard


def _expect(expected, rec_id, t, k, src, top, shard, seq):
    """Records in `expected` (id -> (shard, seq, line)) the line a record
    must produce, if the filter passes it."""
    line = expected_line(rec_id, t, k, src, top)
    if line is not None:
        expected[rec_id] = (shard, seq, line)


def write_backlog(directory, seed, n_records, n_shards):
    """Pre-written drain backlog: record i goes to shard i % n_shards.
    Returns ({id: (shard, seq, expected line)}, total bytes written)."""
    os.makedirs(directory, exist_ok=True)
    rng = random.Random("backlog:%d" % seed)
    exp = {}
    files = [open(os.path.join(directory, shard_name(s)), "w", encoding="ascii", newline="\n")
             for s in range(n_shards)]
    total = 0
    try:
        for i in range(n_records):
            shard, seq = i % n_shards, i // n_shards
            text, k, src, top = stream_doc(rng, i, i * 1000)
            line = envelope_line(i, text, shard, seq, ARRIVAL_BASE_MS + i)
            files[shard].write(line)
            total += len(line)
            _expect(exp, i, i * 1000, k, src, top, shard, seq)
        for f in files:  # on disk before any launch reads them
            f.flush()
            os.fsync(f.fileno())
    finally:
        for f in files:
            f.close()
    return exp, total


def live_records(seed, n_records, shards, rate, phase):
    """The open-loop schedule of one live phase ("warm" or "main"): record i
    is due `i / rate` seconds after the phase starts, on shard
    shards[i % len(shards)].
    Each document carries its due offset in microseconds as `t`, which the
    filter copies into the output. Each phase has its own seeded stream, and
    its ids and per-shard sequence numbers lie above those of the backlog
    and of the phases before it.
    Returns ([(due_offset_s, shard, line bytes)], {id: (shard, seq, expected line)})."""
    rng = random.Random("%s:%d" % (phase, seed))
    base = LIVE_BASE[phase]
    exp = {}
    out = []
    for i in range(n_records):
        shard, seq = shards[i % len(shards)], base + i // len(shards)
        t_us = (i * 1_000_000) // rate
        text, k, src, top = stream_doc(rng, base + i, t_us)
        line = envelope_line(base + i, text, shard, seq, ARRIVAL_BASE_MS + t_us // 1000)
        out.append((t_us / 1e6, shard, line.encode("ascii")))
        _expect(exp, base + i, t_us, k, src, top, shard, seq)
    return out, exp


class Appender(threading.Thread):
    """The open-loop generator: one thread appends pre-generated whole lines
    (each ending in '\\n', one unbuffered write per line) to the shard files
    at their due times, never waiting on the program.

    `phases` is a list of (records, start_event, end_event): a phase begins
    when its start event is set, and its due offsets count from that
    moment; it ends after its last record, or as soon as its end event (if
    any) is set. The start time of every phase, the lines written and the
    lateness of every write are kept on the generator's own clock."""

    def __init__(self, directory, phases):
        super().__init__(daemon=True)
        self.files = {s: open(os.path.join(directory, shard_name(s)), "ab", buffering=0)
                      for records, _, _ in phases for s in {r[1] for r in records}}
        self.phases = phases
        self.stop = threading.Event()
        self.done = [threading.Event() for _ in phases]
        self.phase_start = [None] * len(phases)
        self.late_s = [[] for _ in phases]
        self.written = [0] * len(phases)
        self.error = None

    def _halted(self, end_event):
        return self.stop.is_set() or (end_event is not None and end_event.is_set())

    def run(self):
        try:
            for p, (records, start_event, end_event) in enumerate(self.phases):
                while not start_event.wait(0.05):
                    if self.stop.is_set():
                        return
                t0 = self.phase_start[p] = time.perf_counter()
                for due, shard, line in records:
                    target = t0 + due
                    while not self._halted(end_event):
                        wait = target - time.perf_counter()
                        if wait <= 0:
                            break
                        time.sleep(min(wait, 0.05))
                    if self._halted(end_event):
                        break
                    self.files[shard].write(line)
                    self.late_s[p].append(time.perf_counter() - target)
                    self.written[p] += 1
                self.done[p].set()
        except BaseException as e:  # surfaced by the caller
            self.error = e
        finally:
            for f in self.files.values():
                f.close()


# --------------------------------------------------------------------- corpus

def _zipf_cum(n, s):
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / (r ** s)
        cum.append(acc)
    return cum


_VOCAB = _pseudo_words(6000, 13)
_VOCAB_CUM = _zipf_cum(len(_VOCAB), 1.05)


def _zipf_words(rng, k):
    return rng.choices(_VOCAB, cum_weights=_VOCAB_CUM, k=k)


def _mutate(rng, tokens, rate):
    out = []
    for tok in tokens:
        r = rng.random()
        if r < rate:
            out.append(_zipf_words(rng, 1)[0])  # substitute
        elif r < rate * 1.25:
            continue  # delete
        else:
            out.append(tok)
        if rng.random() < rate * 0.25:
            out.append(_zipf_words(rng, 1)[0])  # insert
    return out or tokens[:1]


def corpus(seed, n_docs, part=0, family_share=0.2):
    """Planted-family corpus number `part` of a seed: a Zipf(1.05)
    vocabulary of 6000 words, documents of 20-120 tokens, and about
    `family_share` of the documents grouped in
    families of 2-5 near-copies of one base text (per-copy mutation rates
    of 0-9 % put family Jaccards on both sides of tau = 0.5). Document ids
    are a seeded permutation, so families are not contiguous.
    Returns (rows [(doc_id, text)], family_of {doc_id: family})."""
    rng = random.Random("corpus:%d:%d" % (seed, part))
    ids = list(range(n_docs))
    rng.shuffle(ids)
    texts, families = [], []
    fam = 0
    n_family_docs = int(n_docs * family_share)
    while len(texts) < n_family_docs:
        size = min(rng.randint(2, 5), n_family_docs - len(texts))
        base = _zipf_words(rng, rng.randint(30, 120))
        for _ in range(size):
            texts.append(" ".join(_mutate(rng, base, rng.uniform(0.0, 0.09))))
            families.append(fam)
        fam += 1
    while len(texts) < n_docs:
        texts.append(" ".join(_zipf_words(rng, rng.randint(20, 120))))
        families.append(-1 - len(texts))  # a family of its own
    rows = [(ids[i], texts[i]) for i in range(n_docs)]
    family_of = {ids[i]: families[i] for i in range(n_docs)}
    return rows, family_of


def write_corpus_parquet(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string())})
    pq.write_table(table, path)
