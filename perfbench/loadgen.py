"""Open-loop load generator: page views are due on a fixed schedule and are
sent whether or not earlier ones have finished. At most `workers` page views
are in flight, one connection each, so a stall shows up as lateness and as
latency, which is timed from the due time rather than from the send time."""
import threading
import time


def run_schedule(dues, send, workers=4):
    """Send page view i at `t0 + dues[i]` seconds via `send(i, worker)`.

    `dues` is sorted. Returns one record per page view, in schedule order:
    `late_s` (send time minus due time), `latency_s` (finish time minus due
    time) and `result` (what `send` returned, or the exception it raised).
    """
    records = [None] * len(dues)
    lock = threading.Lock()
    nxt = [0]
    t0 = time.monotonic()

    def worker(w):
        while True:
            with lock:
                i = nxt[0]
                if i >= len(dues):
                    return
                nxt[0] += 1
            due = t0 + dues[i]
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            start = time.monotonic()
            try:
                result = send(i, w)
            except Exception as e:  # noqa: BLE001 - a failed page view is a result
                result = e
            end = time.monotonic()
            records[i] = {"late_s": start - due, "latency_s": end - due, "result": result}

    threads = [threading.Thread(target=worker, args=(w,), daemon=True) for w in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records
