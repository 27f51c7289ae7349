"""Default live HTTP point-fetch client for the distributed fetch stage.

The reference ships a complete HTTP client — connection setup with
per-stage timeouts, redirect capture (the ENGINE owns redirect semantics,
the client never follows them), body streaming with a hard size cap, and
gzip/deflate handling (client factory main/src/crawler.rs:189-245, fetch
pipeline main/src/task_processor.rs:128-208, byte-counting connector
main/src/hyper_utils.rs:52-165). ``UrllibFetcher`` re-expresses that
contract on the Python stdlib so a live crawl is a one-liner::

    eng = CrawlEngine(spark, pages=None, workdir, cfg)   # default client
    # or explicitly: CrawlEngine(..., fetcher=UrllibFetcher(cfg))

It satisfies the engine's fetcher contract (``fetch_merge`` below, which
both crawl paths call):
``fetcher(urls: list[str]) -> pandas.DataFrame`` with columns
``(url, html, status, location, content_type, content_encoding)``; urls
absent from the result are fetch failures (the engine records
``error:HttpError`` — the TaskError::HttpError / Timeout analogue,
types.rs:141-153).

Contract details, each mirroring a reference behavior:

- **No auto-redirect** (crawler.rs client is built redirect-free; redirect
  handling is status_filters::Redirect, main/src/status_filters.rs:58-65):
  3xx responses come back with their status + Location header and the
  engine schedules the redirect candidate itself.
- **Per-stage timeouts**: connect+status share the socket timeout
  (``connect_timeout_ms + status_timeout_ms``, task_processor.rs:128-175);
  the body read enforces ``load_timeout_ms`` as a wall deadline across
  chunks (task_processor.rs:177-208). A timeout drops the row → HttpError.
- **Streaming size cap** (task_processor.rs:60-80 reads at most
  max_response_size and errors beyond): bodies stream in 64 KiB chunks and
  stop at ``max_response_size + 1`` bytes — enough for the engine's bulk
  mask to classify ``error:HttpTooBigResponse`` without ever buffering an
  unbounded response.
- **Content negotiation**: raw (possibly gzip/deflate) bytes are returned
  together with the Content-Encoding header; decompression happens once,
  inside the engine's extract stage (functions/extract.decode_body), the
  same place the reference gunzips (task_processor.rs:60-80).
- **Custom headers + user agent** (CrawlingSettings.custom_headers,
  config.rs:305-312): every configured (name, value) pair rides each
  request; names may repeat (multi-valued).

The instance is pickled into executor python workers (mapInPandas), so it
keeps only plain config scalars; the urllib opener is rebuilt lazily per
process and never pickled. Within a batch, URLs fetch concurrently on a
bounded thread pool — the IO-bound analogue of the reference's per-domain
concurrent connections (crawler.rs:382-402).
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request

_CHUNK = 64 * 1024

#: the response columns a fetcher returns besides ``url``, as Spark DDL
RESPONSE_DDL = ("html binary, status int, location string, "
                "content_type string, content_encoding string")
RESPONSE_COLS = [c.split()[0] for c in RESPONSE_DDL.split(",")]


def fetch_merge(pdf, fetcher, deadline_s: float | None = None,
                exempt=frozenset()):
    """Point-fetch one batch of ready rows and left-merge the responses:
    ``pdf`` (with ``url``, ``resolve_failed`` and ``target``) plus
    ``RESPONSE_COLS``, in ``pdf``'s row order. The driver-local iteration
    calls it on its ready frame, the distributed plan inside a
    ``mapInPandas`` batch.

    Each distinct URL is requested once. Resolve-failed rows never
    connect and get no response data; JustResolveDNS tasks stop after
    resolve (task_processor.rs:285-292). A URL the fetcher returns twice
    keeps its first row, so the merge never multiplies rows (ADVICE r3).

    With ``deadline_s`` (CrawlConfig.fetch_deadline_ms, fetchers with
    ``supports_deadline``), URLs outside ``exempt`` fetch under that wall
    deadline, and ``exempt`` ones (deferred last iteration) to their full
    per-task timeouts, so a slow host still converges to a verdict. The
    result then also carries a boolean ``fetch_deferred``."""
    import pandas as pd

    want = ~pdf["resolve_failed"].astype(bool) & (
        pdf["target"] != "JustResolveDNS"
    )
    urls = sorted(set(pdf["url"][want].tolist()))
    if deadline_s is None:
        res = fetcher(urls) if urls else None
    else:
        normal = [u for u in urls if u not in exempt]
        held = [u for u in urls if u in exempt]
        frames = []
        if normal:
            frames.append(fetcher(normal, deadline_s=deadline_s))
        if held:
            frames.append(fetcher(held))
        res = pd.concat(frames, ignore_index=True) if frames else None
    if res is None or not len(res):
        res = pd.DataFrame(columns=["url", *RESPONSE_COLS])
    res = res.drop_duplicates(subset=["url"], keep="first")
    for c in RESPONSE_COLS:
        if c not in res.columns:
            res[c] = None
    merge_cols = ["url", *RESPONSE_COLS]
    if deadline_s is not None:
        if "deferred" not in res.columns:
            res["deferred"] = False
        merge_cols.append("deferred")
    out = pdf.merge(res[merge_cols], on="url", how="left")
    if deadline_s is not None:
        out = out.rename(columns={"deferred": "fetch_deferred"})
        out["fetch_deferred"] = out["fetch_deferred"].fillna(False).astype(bool)
    failed = out["resolve_failed"].astype(bool)
    if failed.any():
        out.loc[failed, RESPONSE_COLS] = None
    return out


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    """Return the 3xx response itself instead of following it — the engine
    owns redirect scheduling (status_filters::Redirect)."""

    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None


class UrllibFetcher:
    """Stdlib live HTTP client honoring CrawlConfig timeouts and size cap.

    ``concurrency``: max in-flight requests per Arrow batch (per executor
    python worker). The engine's politeness stage already bounds how many
    URLs of one host are in a batch, so this is a global cap, not a
    per-host one.
    """

    def __init__(self, cfg, concurrency: int = 16):
        self.user_agent = cfg.user_agent
        self.custom_headers = tuple(cfg.custom_headers)
        self.max_response_size = int(cfg.max_response_size)
        self.connect_timeout_s = cfg.connect_timeout_ms / 1000.0
        self.status_timeout_s = cfg.status_timeout_ms / 1000.0
        self.load_timeout_s = cfg.load_timeout_ms / 1000.0
        self.concurrency = int(concurrency)
        self._opener = None

    # the opener holds sockets/locks — rebuild per process, never pickle
    def __getstate__(self):
        d = dict(self.__dict__)
        d["_opener"] = None
        return d

    def _get_opener(self):
        if self._opener is None:
            self._opener = urllib.request.build_opener(_NoRedirect())
        return self._opener

    def _read_capped(self, fp) -> bytes | None:
        """Stream the body up to max_response_size+1 bytes under the load
        deadline; None = load timeout (row dropped → HttpError)."""
        deadline = time.monotonic() + self.load_timeout_s
        cap = self.max_response_size + 1
        chunks: list[bytes] = []
        got = 0
        while got < cap:
            if time.monotonic() > deadline:
                return None
            chunk = fp.read(min(_CHUNK, cap - got))
            if not chunk:
                break
            chunks.append(chunk)
            got += len(chunk)
        return b"".join(chunks)

    def _fetch_one(self, url: str) -> dict | None:
        req = urllib.request.Request(url, method="GET")
        req.add_header("User-Agent", self.user_agent)
        for k, v in self.custom_headers:
            req.add_header(k, v)
        timeout = self.connect_timeout_s + self.status_timeout_s
        try:
            resp = self._get_opener().open(req, timeout=timeout)
        except urllib.error.HTTPError as e:
            resp = e  # non-2xx (incl. unfollowed 3xx) IS the response
        except Exception:
            return None  # connect/status timeout, DNS, TLS, protocol error
        try:
            status = int(getattr(resp, "status", None) or resp.getcode())
            headers = resp.headers
            body = self._read_capped(resp)
        except Exception:
            return None
        finally:
            try:
                resp.close()
            except Exception:
                pass
        if body is None:
            return None  # load timeout
        return {
            "url": url,
            "html": body,
            "status": status,
            "location": headers.get("Location"),
            "content_type": headers.get("Content-Type"),
            "content_encoding": headers.get("Content-Encoding"),
        }

    #: engine probe: this client understands the ``deadline_s`` kwarg (the
    #: straggler carry-over contract, CrawlConfig.fetch_deadline_ms).
    #: Custom fetchers opt in by setting the same attribute.
    supports_deadline = True

    def __call__(self, urls, deadline_s: float | None = None):
        import pandas as pd

        urls = list(urls)
        cols = ["url", "html", "status", "location", "content_type",
                "content_encoding"]
        if not urls:
            return pd.DataFrame(columns=cols)
        if deadline_s is not None:
            return self._fetch_with_deadline(urls, deadline_s, cols)
        if len(urls) == 1:
            rows = [self._fetch_one(urls[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.concurrency, len(urls))
            ) as ex:
                rows = list(ex.map(self._fetch_one, urls))
        return pd.DataFrame(
            [r for r in rows if r is not None], columns=cols
        )

    def _fetch_with_deadline(self, urls, deadline_s, cols):
        """Batch fetch under a wall deadline: finished fetches return
        normally; unfinished/unstarted ones come back as rows with
        ``deferred=True`` (and no payload) for the engine to re-queue into
        the next iteration instead of waiting the stragglers out. The
        in-flight threads are abandoned (their own per-stage timeouts
        bound them); queued futures are cancelled outright."""
        import pandas as pd
        from concurrent.futures import ThreadPoolExecutor, wait

        ex = ThreadPoolExecutor(max_workers=min(self.concurrency, len(urls)))
        futs = {ex.submit(self._fetch_one, u): u for u in urls}
        done, not_done = wait(futs, timeout=deadline_s)
        deferred = []
        for f in not_done:
            f.cancel()
            deferred.append(futs[f])
        ex.shutdown(wait=False)
        rows = []
        for f in done:
            r = f.result()
            if r is not None:
                rows.append(r)
        out = pd.DataFrame(rows, columns=cols)
        out["deferred"] = False
        if deferred:
            dpdf = pd.DataFrame({"url": deferred})
            for c in cols[1:]:
                dpdf[c] = None
            dpdf["deferred"] = True
            out = pd.concat([out, dpdf], ignore_index=True)
        return out
