"""Self-compiled C helpers for the bit-serial media hot loops.

Two codec inner loops cannot be expressed in NumPy because each output
depends on the previous one through non-linear integer ops:

- PNG Average/Paeth defiltering (recon[x] depends on recon[x-c] with
  mod-256 wraparound, which defeats prefix scans and speculation);
- JPEG entropy decoding (Huffman symbols are variable-length — the
  position of symbol k+1 is unknown until symbol k is decoded).

Where Numba is unavailable (this sandbox, many clusters), the standard
no-dependency route is a ~150-line C file compiled once per worker
process with the system ``cc`` and called through ctypes. Every entry
point has a pure-Python fallback pinned byte/value-identical by golden
tests, and ``DATAFILLER_SPARK_NO_CC=1`` forces the fallback, so a
worker without a compiler is slower, never wrong.
"""

from __future__ import annotations

import ctypes
import os
import subprocess
import tempfile
import threading

_C_SRC = r"""
#include <stdint.h>

static int iabs(int v) { return v < 0 ? -v : v; }

/* ---------------- PNG recursive scanline filters (per row) ---------- */

void defilter_avg(const uint8_t* line, const uint8_t* prev, uint8_t* out,
                  long stride, long c) {
    for (long x = 0; x < stride; x++) {
        int a = x >= c ? out[x - c] : 0;
        out[x] = (uint8_t)(line[x] + ((a + prev[x]) >> 1));
    }
}

void defilter_paeth(const uint8_t* line, const uint8_t* prev, uint8_t* out,
                    long stride, long c) {
    for (long x = 0; x < stride; x++) {
        int a = x >= c ? out[x - c] : 0;
        int b = prev[x];
        int cc = x >= c ? prev[x - c] : 0;
        int p = a + b - cc;
        int pa = iabs(p - a), pb = iabs(p - b), pc = iabs(p - cc);
        int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : cc);
        out[x] = (uint8_t)(line[x] + pred);
    }
}

/* ---------------- JPEG baseline entropy decode (per segment) ---------
 *
 * Decodes n_mcus MCUs of an already-unstuffed entropy segment into an
 * interleaved (n_mcus * blocks_per_mcu, 64) int32 coefficient array
 * (zigzag order; dequant/IDCT happen vectorized in NumPy afterwards).
 *
 * syms/lens: stacked 65536-entry peek-16 lookup tables (int16 symbol,
 * -1 = invalid; uint8 code length). blk_dc/blk_ac/blk_comp: per
 * block-slot in the MCU, which DC table, AC table, and component (for
 * the DC predictor) to use. preds: per-component DC predictors (caller
 * resets per restart segment).
 *
 * Returns >= 0: pad bits consumed past the segment end (caller bounds
 * it); < 0: corrupt data (-1 bad DC code, -2 bad AC code, -3 AC
 * overrun).
 */

long jpeg_decode_scan(const uint8_t* data, long n_bytes,
                      const int16_t* syms, const uint8_t* lens,
                      const uint8_t* blk_dc, const uint8_t* blk_ac,
                      const uint8_t* blk_comp,
                      long blocks_per_mcu, long n_mcus,
                      int32_t* out, int64_t* preds) {
    uint32_t acc = 0;
    int nbits = 0;
    long pos = 0, overrun = 0;

    #define REFILL16 while (nbits < 16) { \
        int b_; \
        if (pos < n_bytes) { b_ = data[pos++]; } \
        else { b_ = 0xFF; overrun += 8; } \
        acc = (acc << 8) | (uint32_t)b_; nbits += 8; }

    for (long m = 0; m < n_mcus; m++) {
        for (long s = 0; s < blocks_per_mcu; s++) {
            const int16_t* dsym = syms + ((long)blk_dc[s] << 16);
            const uint8_t* dlen = lens + ((long)blk_dc[s] << 16);
            const int16_t* asym = syms + ((long)blk_ac[s] << 16);
            const uint8_t* alen = lens + ((long)blk_ac[s] << 16);
            int32_t* blk = out + (m * blocks_per_mcu + s) * 64;
            /* DC */
            REFILL16;
            {
                uint32_t v16 = (acc >> (nbits - 16)) & 0xFFFF;
                int sym = dsym[v16];
                /* baseline 8-bit DC magnitude categories are 0..11
                 * (T.81 F.1.2.1); a hostile DHT can smuggle larger
                 * symbols, which would shift by > nbits below */
                if (sym < 0 || sym > 11) return -1;
                nbits -= dlen[v16];
                acc &= ((uint32_t)1 << nbits) - 1;
                if (sym) {
                    if (nbits < sym) { REFILL16; }
                    int v = (int)((acc >> (nbits - sym)) & (((uint32_t)1 << sym) - 1));
                    nbits -= sym;
                    acc &= ((uint32_t)1 << nbits) - 1;
                    if (v < (1 << (sym - 1))) v -= (1 << sym) - 1;
                    preds[blk_comp[s]] += v;
                }
                blk[0] = (int32_t)preds[blk_comp[s]];
            }
            /* AC */
            int k = 1;
            while (k < 64) {
                REFILL16;
                uint32_t v16 = (acc >> (nbits - 16)) & 0xFFFF;
                int sym = asym[v16];
                if (sym < 0) return -2;
                nbits -= alen[v16];
                acc &= ((uint32_t)1 << nbits) - 1;
                int r = sym >> 4, size = sym & 0x0F;
                if (size == 0) {
                    if (r == 15) { k += 16; continue; }
                    break; /* EOB */
                }
                k += r;
                if (k > 63) return -3;
                if (nbits < size) { REFILL16; }
                int v = (int)((acc >> (nbits - size)) & (((uint32_t)1 << size) - 1));
                nbits -= size;
                acc &= ((uint32_t)1 << nbits) - 1;
                if (v < (1 << (size - 1))) v -= (1 << size) - 1;
                blk[k] = v;
                k++;
            }
        }
    }
    return overrun;
    #undef REFILL16
}
"""

_STATE: dict = {"lib": None, "tried": False}
_LOCK = threading.Lock()

U8P = ctypes.POINTER(ctypes.c_uint8)
I16P = ctypes.POINTER(ctypes.c_int16)
I32P = ctypes.POINTER(ctypes.c_int32)
I64P = ctypes.POINTER(ctypes.c_int64)


def _cache_path() -> str:
    """Host-wide cache location for the compiled helper, keyed by the
    SOURCE CONTENT hash: one compile serves every Python worker on the
    host, across processes AND sessions, and a source edit gets a new
    key instead of a stale library.

    The cache lives in a PER-USER 0700 directory under the temp dir —
    never a predictable world-writable path — so on a shared host no
    other account can pre-plant a library at the expected name (CDLL
    runs constructors) or park an unreadable file there that would
    permanently disable the fast path. The path is checked with
    ``lstat``: a symlink, a non-directory, a directory owned by someone
    else or one that grants any group/other permission is refused
    (raises, caller falls back to pure Python)."""
    import hashlib
    import stat

    digest = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"datafiller_cext_u{os.getuid()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    st = os.lstat(cache_dir)
    if not stat.S_ISDIR(st.st_mode):
        raise OSError(f"cext cache dir {cache_dir!r} is a symlink or not a directory")
    if st.st_uid != os.getuid():
        raise OSError(f"cext cache dir {cache_dir!r} not owned by this user")
    if st.st_mode & 0o077:
        raise OSError(f"cext cache dir {cache_dir!r} is accessible to other users")
    return os.path.join(cache_dir, f"{digest}.so")


def lib():
    """Load (or compile once per HOST) the helper library; None if no
    working compiler or ``DATAFILLER_SPARK_NO_CC=1`` (tests use that to
    pin the pure-Python fallbacks).

    The compiled ``.so`` is cached under a content-hash-keyed path and
    published with an atomic rename, so the first worker to finish the
    compile wins and every other worker (including every later session
    on this host) loads without ever invoking ``cc``. Round-6 shipped a
    per-process ``mkdtemp`` compile: at local[32] that was up to 32
    identical compiles per session, ~2 s each on the cold path of every
    media query."""
    if _STATE["tried"]:
        return _STATE["lib"]
    with _LOCK:
        if _STATE["tried"]:
            return _STATE["lib"]
        out = None
        if os.environ.get("DATAFILLER_SPARK_NO_CC") != "1":
            try:
                so_cached = _cache_path()

                def _compile_to(dest: str) -> None:
                    d = tempfile.mkdtemp(prefix="datafiller_cext_")
                    c_path = os.path.join(d, "cext.c")
                    so_path = os.path.join(d, "cext.so")
                    with open(c_path, "w") as f:
                        f.write(_C_SRC)
                    subprocess.run(
                        ["cc", "-O2", "-shared", "-fPIC", "-o", so_path, c_path],
                        check=True,
                        capture_output=True,
                        timeout=60,
                    )
                    # atomic publish: concurrent compilers race benignly
                    # (same content, last rename wins, loads never see a
                    # partial file)
                    os.replace(so_path, dest)

                if not os.path.exists(so_cached):
                    _compile_to(so_cached)
                try:
                    cand = ctypes.CDLL(so_cached)
                except OSError:
                    # corrupt/truncated cached file (e.g. a crashed
                    # earlier session): recompile over it once instead
                    # of permanently losing the fast path
                    _compile_to(so_cached)
                    cand = ctypes.CDLL(so_cached)
                for fn in (cand.defilter_avg, cand.defilter_paeth):
                    fn.argtypes = [U8P, U8P, U8P, ctypes.c_long, ctypes.c_long]
                    fn.restype = None
                cand.jpeg_decode_scan.argtypes = [
                    U8P,
                    ctypes.c_long,
                    I16P,
                    U8P,
                    U8P,
                    U8P,
                    U8P,
                    ctypes.c_long,
                    ctypes.c_long,
                    I32P,
                    I64P,
                ]
                cand.jpeg_decode_scan.restype = ctypes.c_long
                out = cand
            except Exception:
                out = None  # no compiler on this worker: Python fallbacks
        _STATE["lib"] = out
        _STATE["tried"] = True
        return out
