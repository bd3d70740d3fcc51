"""Seeded input generators for the benchmark.

Two generators, both pure functions of (seed, sizes): the same seed writes
byte-identical files, and `fingerprint` hashes them so a run can print
what it was fed.

Raw Matrix events (JSON lines, the `Streaming.startFullIngestJsonl` wire
format). Each property exists because some ingest code path depends on it:

- Zipf room skew: rooms are drawn with weight 1/rank^1.1, so a few rooms
  take most events. The merge rewrites only touched buckets, so skew
  decides how many buckets a batch touches and how large they are.
- Member events with display-name collisions: names come from a small
  pool, so different users in one room share a name. That drives the T4
  disambiguation window and the room-state consult against the persisted
  participants snapshot.
- State events (create, name, topic, encryption): the T5 rooms projection
  and the rooms change-detection merge.
- About 1/7 of messages are AES-GCM encrypted under a fixed test
  passphrase (never a real secret); a few of those are tampered, so the
  T8 decrypt both succeeds and fails, and failures reach `logs`.
- Redelivered duplicates: exact copies of earlier lines, in the same or a
  later file. The LWW merge must absorb them.
- Late and out-of-order timestamps: some events carry timestamps hours
  older than their neighbours, and lines within a file are shuffled, so
  buckets receive rows below their current maximum.
- A few corrupt lines (truncated JSON): the source-boundary dead-letter
  path into `logs`.

Documents corpus (the `documents` testdata schema) for the corpus
pipeline:

- a spread of quality: clean prose-like documents, too-short ones,
  one-token-dominated ones and bigram-spam ones, so the gate keeps most
  but not all;
- near-duplicate families (a base document plus lightly edited copies,
  Jaccard well above the 0.5 deletion threshold), so pairs, components and
  keeper election have real work;
- 8-gram contamination: documents with doc_id % 97 == 0 are the probe
  set; some other documents embed a 12-token span copied from a probe.
"""
import base64
import hashlib
import json
import os
import random
import time

from cryptography.hazmat.primitives import hashes
from cryptography.hazmat.primitives.ciphers.aead import AESGCM
from cryptography.hazmat.primitives.kdf.pbkdf2 import PBKDF2HMAC

# Fixed test key material for the encrypted share of the stream. The
# pipeline derives the same key from these three values (CryptoConfig).
PASSPHRASE = "perfbench-test-passphrase"
SALT_B64 = base64.b64encode(b"perfbench-salt-0").decode()
ITERATIONS = 1000

DOMAIN = "bench.local"
NAME_POOL = ["Alex", "Sam", "Robin", "Kim", "Jo", "Lee", "Max", "Ari",
             "Noor", "Eli", "Rae", "Kai"]
WORDS = ["sync", "room", "event", "token", "key", "batch", "merge", "stream",
         "table", "query", "page", "user", "state", "name", "topic", "join",
         "leave", "invite", "server", "client", "device", "backup", "cross",
         "sign", "verify", "olm", "megolm", "session", "timeline", "reply",
         "edit", "thread", "react", "media", "upload", "bridge", "relay",
         "ping", "hello", "later", "today", "meeting", "notes", "deploy",
         "build", "test", "fix", "review", "ship", "lunch"]


def derive_key():
    kdf = PBKDF2HMAC(algorithm=hashes.SHA512(), length=32,
                     salt=base64.b64decode(SALT_B64), iterations=ITERATIONS)
    return kdf.derive(PASSPHRASE.encode())


def encrypt(key, plaintext, iv):
    """base64(iv || ciphertext || tag): the Decrypt.decrypt wire format."""
    return base64.b64encode(iv + AESGCM(key).encrypt(iv, plaintext.encode(), None)).decode()


def tamper(payload_b64, rng):
    raw = bytearray(base64.b64decode(payload_b64))
    i = rng.randrange(12, len(raw))
    raw[i] ^= 0x5A
    return base64.b64encode(bytes(raw)).decode()


def _line(ev):
    return json.dumps(ev, separators=(",", ":"), sort_keys=True)


class EventStream:
    """Deterministic raw-event source; `take(n)` returns the next n lines
    plus bookkeeping of what each line is."""

    def __init__(self, seed, n_rooms=48, n_users=160):
        self.rng = random.Random(seed * 7919 + 17)
        self.key = derive_key()
        self.rooms = [f"!r{i:03d}:{DOMAIN}" for i in range(n_rooms)]
        w = [1.0 / (i + 1) ** 1.1 for i in range(n_rooms)]
        tot = sum(w)
        self.room_w = [x / tot for x in w]
        self.users = [f"@u{i:03d}:{DOMAIN}" for i in range(n_users)]
        self.encrypted_rooms = {r for i, r in enumerate(self.rooms) if i % 3 == 1}
        self.created = set()
        self.seq = 0
        self.ts = 1_760_000_000_000
        self.sent = []  # clean, well-formed lines eligible for redelivery

    def _eid(self):
        self.seq += 1
        return f"${self.seq:08d}-{self.rng.randrange(1 << 30):08x}:{DOMAIN}"

    def _ts(self):
        self.ts += self.rng.randrange(1, 900)
        if self.rng.random() < 0.05:  # late arrival, up to ~3 h old
            return self.ts - self.rng.randrange(60_000, 10_000_000)
        return self.ts

    def _event(self, room, sender, etype, content, encrypted=False, relates=None):
        return {"event_id": self._eid(), "room_id": room, "sender": sender,
                "event_type": etype, "origin_server_ts": self._ts(),
                "content": content, "relates_to": relates,
                "is_encrypted": encrypted, "to_start_of_timeline": False}

    def _state(self, room):
        out = []
        if room not in self.created:
            self.created.add(room)
            out.append(self._event(room, self.users[0], "m.room.create",
                                   json.dumps({"creator": self.users[0]})))
            if room in self.encrypted_rooms:
                out.append(self._event(room, self.users[0], "m.room.encryption",
                                       json.dumps({"algorithm": "m.megolm.v1.aes-sha2"})))
        kind = self.rng.choice(["m.room.name", "m.room.topic"])
        field = "name" if kind == "m.room.name" else "topic"
        out.append(self._event(room, self.rng.choice(self.users), kind,
                               json.dumps({field: f"{field} {self.rng.randrange(1000)}"})))
        return out

    def take(self, n):
        """Return (lines, kinds) with len == n; kinds[i] in
        {'clean', 'tampered', 'corrupt', 'dup'}."""
        rng = self.rng
        lines, kinds = [], []
        while len(lines) < n:
            room = rng.choices(self.rooms, self.room_w)[0]
            r = rng.random()
            if room not in self.created or r < 0.03:
                for ev in self._state(room):
                    lines.append(_line(ev)); kinds.append("clean")
                continue
            if r < 0.15:
                user = rng.choice(self.users)
                content = {"membership": "join" if rng.random() < 0.9 else "leave",
                           "displayname": rng.choice(NAME_POOL),
                           "avatar_url": f"mxc://{DOMAIN}/{user[1:5]}"}
                ev = self._event(room, user, "m.room.member", json.dumps(content))
                kind = "clean"
            elif r < 0.165 and self.sent:
                lines.append(rng.choice(self.sent)); kinds.append("dup")
                continue
            elif r < 0.170:
                good = _line(self._event(room, rng.choice(self.users),
                                         "m.room.message", "{}"))
                lines.append(good[: rng.randrange(10, len(good) - 5)])
                kinds.append("corrupt")
                continue
            else:
                body = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 24)))
                plain = json.dumps({"msgtype": "m.text", "body": body})
                relates = None
                if rng.random() < 0.1:
                    relates = json.dumps({"m.in_reply_to": {"event_id": f"$p{rng.randrange(10**6)}"}})
                kind = "clean"
                if room in self.encrypted_rooms and rng.random() < 0.45:  # ~1/7 overall
                    iv = rng.randbytes(12)
                    payload = encrypt(self.key, plain, iv)
                    if rng.random() < 0.03:
                        payload = tamper(payload, rng)
                        kind = "tampered"
                    ev = self._event(room, rng.choice(self.users), "m.room.message",
                                     payload, encrypted=True, relates=relates)
                else:
                    ev = self._event(room, rng.choice(self.users), "m.room.message",
                                     plain, relates=relates)
            line = _line(ev)
            lines.append(line); kinds.append(kind)
            if kind == "clean" and rng.random() < 0.2:
                self.sent.append(line)
        # out-of-order delivery inside a file: local shuffles of short runs
        for i in range(0, len(lines) - 8, 8):
            if rng.random() < 0.3:
                j = i + rng.randrange(1, 8)
                lines[i], lines[j] = lines[j], lines[i]
                kinds[i], kinds[j] = kinds[j], kinds[i]
        return lines[:n], kinds[:n]


def write_event_files(stream, out_dir, prefix, n_files, per_file):
    """Write n_files JSONL files; returns their descriptors. Modification
    times increase with the file index: the file source orders a backlog
    by mtime, so this fixes which files share a micro-batch."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    now = int(time.time()) - n_files
    for i in range(n_files):
        lines, kinds = stream.take(per_file)
        path = os.path.join(out_dir, f"{prefix}-{i:04d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (now + i, now + i))
        files.append({"path": path, "events": len(lines),
                      "bad": sum(k in ("tampered", "corrupt") for k in kinds)})
    return files


STATE_TYPES = {"m.room.create", "m.room.name", "m.room.topic", "m.room.avatar",
               "m.room.encryption", "m.room.member"}


def without_state(src, dst, limit):
    """Copy the first `limit` lines of a JSONL file that are not state
    events (corrupt lines included), in order."""
    keep = []
    with open(src, encoding="utf-8") as f:
        for line in f.read().split("\n"):
            if not line or len(keep) == limit:
                continue
            try:
                ev = json.loads(line)
            except ValueError:
                ev = None
            if not (isinstance(ev, dict) and ev.get("event_type") in STATE_TYPES):
                keep.append(line)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    with open(dst, "w", encoding="utf-8") as f:
        f.write("\n".join(keep) + "\n")


def documents(seed, n_docs, out_path):
    """Write a `documents` parquet (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 104729 + 3)
    vocab = [f"{a}{b}{c}" for a in "bcdfghklmnprstvz" for b in "aeiou"
             for c in "lnrstkm"][:4000]
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def prose(n):
        return rng.choices(vocab, cum_weights=cum, k=n)

    texts = []
    while len(texts) < n_docs:
        doc_id = len(texts)
        r = rng.random()
        if r < 0.06:
            toks = prose(rng.randrange(3, 19))                  # too short
        elif r < 0.10:
            toks = prose(rng.randrange(40, 120))
            toks = [t if rng.random() < 0.6 else toks[0] for t in toks]  # one token dominates
        elif r < 0.13:
            pair = prose(2)
            toks = prose(rng.randrange(30, 60)) + pair * rng.randrange(8, 20)  # bigram spam
        else:
            toks = prose(rng.randrange(40, 320))
        texts.append(toks)
        # near-duplicate family: a few edited copies of this document
        if len(toks) >= 40 and rng.random() < 0.12:
            for _ in range(rng.randrange(1, 5)):
                if len(texts) >= n_docs:
                    break
                cp = list(toks)
                for _ in range(max(1, len(cp) // 60)):
                    cp[rng.randrange(len(cp))] = rng.choice(vocab)
                texts.append(cp)
    # contamination: copy a 12-token span of a probe doc into other docs
    probes = [i for i in range(n_docs) if i % 97 == 0 and len(texts[i]) >= 12]
    for i in range(n_docs):
        if i % 97 != 0 and probes and rng.random() < 0.04:
            p = texts[rng.choice(probes)]
            s = rng.randrange(0, len(p) - 11)
            at = rng.randrange(0, len(texts[i]) + 1)
            texts[i] = texts[i][:at] + p[s:s + 12] + texts[i][at:]
    text = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{rng.randrange(4)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    # fixed writer settings so the same seed gives the same bytes
    pq.write_table(table, out_path, compression="zstd", use_dictionary=False,
                   write_statistics=True, store_schema=False)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
