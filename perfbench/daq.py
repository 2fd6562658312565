"""The ingest workload's inputs, device simulator and correctness check.

Everything here is independent of the engine: channel formats, register
contents and conversions are generated from the seed, the simulator
serves them over Modbus-TCP, and the check recomputes the expected fact
and status tables with its own decoder instead of the engine's
`ModbusDecode` / `Conversions`.
"""
import hashlib
import random
import socket
import struct
import threading
from datetime import timezone
from decimal import Decimal

import pyarrow.parquet as pq

N_CHANNELS = 2000
DEAD_SHARE = 0.01
HISTORY = (3, 10)  # history_len range; a run commits ~8 ticks, so most channels evict
START_EPOCH = 1_600_000_000
ADDR_STRIDE = 16
PROBE_ADDR = 65000

# reference FORMAT_LENGTH (modbus.py:26-29): registers read per format code
FORMAT_LENGTH = {0: 1, 1: 2, 2: 2, 3: 3, 4: 4, 5: 5, 6: 6, 7: 7, 8: 8, 9: 9,
                 10: 10, 11: 11, 12: 2, 13: 2}
FLOAT = 7

# conversion programs and their meaning. Register values are integers or
# multiples of 1/16, so every converted value has at most six decimals
# and the NUMERIC(25,6) cast never rounds.
CONVERSIONS = {
    1: ("Value = x * 0.5 + 10", lambda x: x * 0.5 + 10),
    2: ("Value = x / 4 - 3", lambda x: x / 4 - 3),
    3: ("Value = abs(x) * 0.25", lambda x: abs(x) * 0.25),
    4: ("Value = (x - 100) * 2", lambda x: (x - 100) * 2),
    5: ("Value = x * 0.75", lambda x: x * 0.75),
}


class Channel:
    __slots__ = ("id", "addr", "fmt", "count", "conv", "history", "dead")

    def __init__(self, cid, addr, fmt, conv, history, dead):
        self.id, self.addr, self.fmt, self.conv = cid, addr, fmt, conv
        self.count, self.history, self.dead = FORMAT_LENGTH[fmt], history, dead


def channels(seed):
    """The seeded channel table: format, conversion, history and liveness."""
    rng = random.Random(seed)
    out = []
    for i in range(N_CHANNELS):
        out.append(Channel(i + 1, i * ADDR_STRIDE, rng.randrange(14),
                           rng.choice([0] + sorted(CONVERSIONS)),
                           rng.randint(*HISTORY), rng.random() < DEAD_SHARE))
    if not any(c.dead for c in out):
        out[rng.randrange(N_CHANNELS)].dead = True
    return out


def registers(seed, ch, k):
    """Register words the k-th read (1-based) of channel `ch` returns."""
    h = hashlib.blake2b(struct.pack(">qqq", seed, ch.id, k), digest_size=32).digest()
    words = list(struct.unpack(">16H", h))[:ch.count]
    if ch.fmt == FLOAT:
        # a float32 that is an exact multiple of 1/16, word order little
        v = (struct.unpack(">I", h[:4])[0] % (1 << 21) - (1 << 20)) / 16
        bits = struct.unpack(">I", struct.pack(">f", v))[0]
        words[0], words[1] = bits & 0xFFFF, bits >> 16
    return words


def _signed(u, bits):
    return u - (1 << bits) if u >= 1 << (bits - 1) else u


def expected_value(seed, ch, k):
    """Expected NUMERIC(25,6) value of tick k's sample, or None."""
    r = registers(seed, ch, k)
    u32 = (r[1] << 16) | r[0] if len(r) > 1 else None
    raw = {0: lambda: _signed(r[0], 16), 1: lambda: _signed(u32, 32),
           2: lambda: _signed(u32, 32), 4: lambda: r[0], 12: lambda: r[0],
           5: lambda: u32, 13: lambda: u32,
           7: lambda: struct.unpack(">f", struct.pack(">I", u32))[0]}.get(ch.fmt)
    if raw is None:
        return None
    x = float(raw())
    if ch.conv:
        x = CONVERSIONS[ch.conv][1](x)
    return Decimal(repr(x)).quantize(Decimal("0.000001"))


def _epoch(ts):
    """Epoch seconds of a stored timestamp (naive values are UTC)."""
    return int(ts.replace(tzinfo=timezone.utc).timestamp()) if ts.tzinfo is None \
        else int(ts.timestamp())


def write_config(path, seed, port, warm, timed, chans):
    with open(path, "w") as f:
        f.write(f"start_epoch {START_EPOCH}\nport {port}\nprobe_addr {PROBE_ADDR}\n"
                f"ticks_warm {warm}\nticks_timed {timed}\n")
        for cid, (prog, _) in sorted(CONVERSIONS.items()):
            f.write(f"conv {cid} {prog}\n")
        for c in chans:
            f.write(f"chan {c.id} {c.addr} {c.count} {c.fmt} {c.conv} {c.history} "
                    f"{int(c.dead)}\n")


class Simulator:
    """Modbus-TCP device (function code 3) serving the seeded channels.

    Serves at most `max_conns` connections at a time and answers each
    request with one write on a TCP_NODELAY socket. The k-th read of a
    live channel returns `registers(seed, ch, k)`; a dead channel's
    address gets exception 0x02. `kill_tick` (a fault for the
    benchmark's own tests) drops the connection instead of answering
    every live channel's read of that tick.
    """

    def __init__(self, seed, chans, max_conns=2, kill_tick=None):
        self.seed, self.kill_tick = seed, kill_tick
        self.by_addr = {c.addr: c for c in chans}
        self.reads = {c.addr: 0 for c in chans}
        self.errors = 0
        self.probe_reads = 0
        self.lock = threading.Lock()
        self.slots = threading.Semaphore(max_conns)
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(16)
        self.port = self.sock.getsockname()[1]
        self.closed = False
        self.threads = [threading.Thread(target=self._accept, daemon=True)]
        self.threads[0].start()

    def _accept(self):
        while not self.closed:
            self.slots.acquire()
            try:
                conn, _ = self.sock.accept()
            except OSError:
                self.slots.release()
                return
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            self.threads.append(t)
            t.start()

    def _serve(self, conn):
        try:
            while True:
                req = conn.recv(12, socket.MSG_WAITALL)
                if len(req) < 12:
                    return
                txn, _, _, unit, fn, addr, count = struct.unpack(">HHHBBHH", req)
                reply = self._answer(txn, unit, fn, addr, count)
                if reply is None:
                    return
                conn.sendall(reply)
        except OSError:
            return
        finally:
            conn.close()
            self.slots.release()

    def _answer(self, txn, unit, fn, addr, count):
        def error(code):
            return struct.pack(">HHHBBB", txn, 0, 3, unit, fn | 0x80, code)
        if fn != 3:
            return error(0x01)
        if addr == PROBE_ADDR:
            with self.lock:
                self.probe_reads += 1
            return struct.pack(f">HHHBBB{count}H", txn, 0, 3 + 2 * count, unit, 3,
                               2 * count, *range(count))
        ch = self.by_addr.get(addr)
        with self.lock:
            if ch is not None and count == ch.count:
                self.reads[addr] += 1
                k = self.reads[addr]
            if ch is None or ch.dead or count != ch.count:
                self.errors += 1
                return error(0x02)
        if k == self.kill_tick:
            return None
        return struct.pack(f">HHHBBB{count}H", txn, 0, 3 + 2 * count, unit, 3, 2 * count,
                           *registers(self.seed, ch, k))

    def close(self):
        self.closed = True
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        for t in self.threads:
            t.join(timeout=5)


def check(seed, chans, ticks, sim, fact_dir, status_dir):
    """Mismatches between the stored tables and the recomputed state."""
    bad = []
    live = [c for c in chans if not c.dead]
    for c in chans:
        if sim.reads[c.addr] != ticks:
            bad.append(f"channel {c.id} read {sim.reads[c.addr]} times in {ticks} ticks")
            break
    dead = len(chans) - len(live)
    if sim.errors != dead * ticks:
        bad.append(f"{sim.errors} refused reads, want {dead} dead channels x {ticks} ticks")
    fact = pq.read_table(fact_dir, columns=["channel_id", "ts", "value"]).to_pydict()
    got = {}
    for cid, ts, v in zip(fact["channel_id"], fact["ts"], fact["value"]):
        got.setdefault(cid, []).append((_epoch(ts), v))
    for c in live:
        keep = min(ticks, c.history)
        want = [(START_EPOCH + k, expected_value(seed, c, k))
                for k in range(ticks - keep + 1, ticks + 1)]
        rows = sorted(got.pop(c.id, []))
        if rows != want:
            bad.append(f"channel {c.id}: {len(rows)} samples, want {keep}; "
                       f"first difference {next((p for p in zip(rows, want) if p[0] != p[1]), None)}")
    if got:
        bad.append(f"fact rows for dead or unknown channels {sorted(got)[:5]}")
    status = pq.read_table(status_dir).to_pydict()
    params = dict(zip(status["parameter"], zip(status["status"], status["ts"])))
    last = START_EPOCH + ticks
    for c in live:
        s = params.pop(f"CHL: {c.id}", None)
        if s is None or s[0] != 1 or _epoch(s[1]) != last:
            bad.append(f"status of channel {c.id} is {s}, want (1, tick {ticks})")
    beat = params.pop("daq-3i", None)
    if beat is None or beat[0] != 1 or _epoch(beat[1]) < last:
        bad.append(f"heartbeat row is {beat}")
    if params:
        bad.append(f"unexpected status rows {sorted(params)[:5]}")
    if len(set(status["id"])) != len(status["id"]):
        bad.append("status ids are not unique")
    return bad


def flip_one_value(fact_dir):
    """Fault for the benchmark's own tests: change one stored sample."""
    import glob
    import pyarrow as pa
    path = sorted(glob.glob(f"{fact_dir}/**/*.parquet", recursive=True))[0]
    t = pq.read_table(path)
    vals = t.column("value").to_pylist()
    i = next(i for i, v in enumerate(vals) if v is not None)
    vals[i] += Decimal("0.000001")
    t = t.set_column(t.schema.get_field_index("value"), "value",
                     pa.array(vals, type=t.schema.field("value").type))
    pq.write_table(t, path)
