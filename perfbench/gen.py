"""Socket producer for the ingest workload, run as its own process.

It connects to the pipeline's listen-mode unix socket with up to ``nproc``
connections, all driven from one thread, and writes newline-framed
records. Every record carries its sequence number and its creation
stamp. The program under test sees only these bytes.

The records follow the reference's own generators (FIXTURES.md §2): a
line record is ``benchmaking: <i>`` and a JSON record a one-field object
``{"message": ...}``; each gains the sequence number and creation stamp
above, which makes a JSON record about 75 bytes and a line record about
45 bytes.

- ``paced``: open loop at PACED_RATE records/s. Record i is due at
  ``t0 + i / PACED_RATE`` whatever the pipeline does; records that fall due while a send blocks go out
  together once it returns, so a stall shows as generator lag, not as a
  slower schedule. Lag is the hand-over time minus the due time. About
  1% of records are malformed JSON (the FIXTURES.md §2 drop cases).
- ``burst``: N line records pushed as fast as the sockets accept them.

Usage::

    python3 perfbench/gen.py --socket PATH --mode paced --seed 1 \\
        --seconds 8 --start-at EPOCH [--first-seq N] --out gen.json
    python3 perfbench/gen.py --socket PATH --mode burst --seed 1 \\
        --count 100000 [--start-at EPOCH] [--first-seq N] --out gen.json
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import sys
import time
from collections.abc import Callable
from datetime import datetime, timezone

DROP_CASES = ("[1, 2]", "42", '"str"', '{"a":')
CONNS = 4  # producer connections, capped at nproc
MALFORMED_SHARE = 0.01
PACED_RATE = 2500  # records/s of the paced open loop
LOG_POINTS = 2000  # send-log entries kept per run


def is_malformed(seed: int, seq: int) -> bool:
    """Whether paced record ``seq`` is sent as malformed JSON (about
    MALFORMED_SHARE of all sequence numbers, chosen by the seed)."""
    h = ((seq + (seed << 32)) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    return (h >> 40) % 10_000 < MALFORMED_SHARE * 10_000


def iso_utc(epoch_s: float) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def json_record(seq: int, due: float) -> str:
    return json.dumps({"seq": seq, "ts": iso_utc(due), "message": f"benchmaking: {seq}"})


def line_record(seq: int, stamp_us: int) -> str:
    return f"seq={seq} ts={stamp_us} benchmaking: {seq}"


def parse_line_record(line: str) -> tuple[int, int]:
    """(seq, creation stamp in µs) of a line record."""
    seq, stamp, _ = line.split(" ", 2)
    return int(seq[len("seq="):]), int(stamp[len("ts="):])


def paced_loop(
    total: int,
    rate: float,
    t0: float,
    encode: Callable[[int], str],
    send: Callable[[int, bytes], None],
    n_conns: int,
    clock: Callable[[], float] = time.time,
    sleep: Callable[[float], None] = time.sleep,
    tick: float = 0.002,
) -> tuple[list[float], list[tuple[float, int]]]:
    """Send records 0..total-1 on the open-loop schedule ``t0 + i / rate``.

    Returns each record's lag (hand-over time minus due time) and a send
    log of (time, records handed over so far). Record i goes to
    connection ``i % n_conns``; ``encode(i)`` renders it."""
    lags = [0.0] * total
    log: list[tuple[float, int]] = []
    sent = 0
    while sent < total:
        now = clock()
        due = 0 if now < t0 else min(total, int((now - t0) * rate) + 1)
        if due <= sent:
            sleep(min(tick, max(0.0, t0 + sent / rate - now)))
            continue
        for c in range(n_conns):
            first = sent + (c - sent) % n_conns
            seqs = range(first, due, n_conns)
            if not seqs:
                continue
            handed = clock()
            for i in seqs:
                lags[i] = handed - (t0 + i / rate)
            send(c, "".join(encode(i) + "\n" for i in seqs).encode())
        sent = due
        log.append((clock(), sent))
    return lags, log


def burst_send(socks: list[socket.socket], blobs: list[bytes]) -> None:
    """Write each blob to its socket as fast as the sockets accept."""
    sel = selectors.DefaultSelector()
    views = {}
    for s, blob in zip(socks, blobs):
        if blob:
            s.setblocking(False)
            sel.register(s, selectors.EVENT_WRITE)
            views[s] = memoryview(blob)
    try:
        while views:
            for key, _ in sel.select(timeout=1.0):
                s = key.fileobj
                n = s.send(views[s][: 1 << 20])
                views[s] = views[s][n:]
                if not views[s]:
                    sel.unregister(s)
                    del views[s]
    finally:
        sel.close()


def _thin(log: list[tuple[float, int]]) -> list[tuple[float, int]]:
    step = max(1, len(log) // LOG_POINTS)
    return log[::step] + ([log[-1]] if log and (len(log) - 1) % step else [])


def connect(path: str, n: int, timeout_s: float = 30.0) -> list[socket.socket]:
    deadline = time.time() + timeout_s
    socks = []
    while len(socks) < n:
        s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            s.connect(path)
        except (FileNotFoundError, ConnectionRefusedError):
            s.close()
            if time.time() > deadline:
                raise
            time.sleep(0.05)
            continue
        socks.append(s)
    return socks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--socket", required=True)
    ap.add_argument("--mode", choices=("paced", "burst"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--start-at", type=float, default=0.0)
    ap.add_argument("--count", type=int, default=100_000)
    ap.add_argument("--first-seq", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    conns = min(CONNS, len(os.sched_getaffinity(0)))
    socks = connect(args.socket, conns)
    result: dict = {"mode": args.mode, "conns": conns}
    try:
        if args.mode == "paced":
            total = int(PACED_RATE * args.seconds)
            first = args.first_seq
            t0 = max(args.start_at, time.time())

            def encode(i: int) -> str:
                seq = first + i
                if is_malformed(args.seed, seq):
                    return DROP_CASES[seq % len(DROP_CASES)]
                return json_record(seq, t0 + i / PACED_RATE)

            def send(c: int, data: bytes) -> None:
                socks[c].sendall(data)

            lags, log = paced_loop(total, PACED_RATE, t0, encode, send, conns)
            result.update(
                sent=total,
                first_seq=first,
                malformed=sum(is_malformed(args.seed, first + i) for i in range(total)),
                t0=t0,
                t_first_send=log[0][0],
                t_last_send=log[-1][0],
                lags=sorted(lags),
                send_log=_thin(log),
            )
        else:
            stamp = time.time()
            stamp_us = int(stamp * 1e6)
            blobs = [
                "".join(
                    line_record(args.first_seq + i, stamp_us) + "\n"
                    for i in range(c, args.count, conns)
                ).encode()
                for c in range(conns)
            ]
            time.sleep(max(0.0, args.start_at - time.time()))
            t_first = time.time()
            burst_send(socks, blobs)
            t_last = time.time()
            result.update(
                sent=args.count,
                first_seq=args.first_seq,
                malformed=0,
                created=stamp,
                t_first_send=t_first,
                t_last_send=t_last,
            )
    finally:
        for s in socks:
            s.close()
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
