"""C twins of the sequential sweep kernels, compiled on first use with the
system C compiler and loaded via ctypes.

The engine does not use numba.  Each sweep below has exactly one Python
loop (in kernels/*_numpy.py, operators/kalman.py or operators/holt.py — the
ground truth the twin is tested against) and one C twin here; the kernel
dispatches once — the twin when :func:`available`, else its Python loop,
which is correct but ~100× slower per row.  The twin is our own source compiled with the system
toolchain (a small C file → .so in the temp dir, cached by content hash).

BIT-IDENTITY is the contract (the engine's resume invariant and the
driver's cross-engine value hashes both rely on exact doubles):

* the C loop performs the IDENTICAL sequence of IEEE-754 double ops as
  its Python loop (e.g. ``ewm_numpy._ewm_sweep``) — same associativity,
  same branches;
* compiled with ``-ffp-contract=off`` and no ``-march`` so the compiler
  cannot fuse a*b+c into FMA or vectorize the (inherently sequential)
  recurrence differently;
* ``pow`` is the same libm call CPython's ``float.__pow__`` and NumPy's
  scalar power make; ``-fno-builtin-pow`` stops the compiler from
  rewriting ``pow(x, 2.0)`` as ``x * x``, which rounds differently from
  libm's pow in rare cases.

tests/test_cnative.py asserts twin == loop bit-for-bit over NaN-laced
random inputs with clocks, weights, and resume states.  If no compiler is present (or the compile fails) the
module degrades to ``available() == False`` and callers keep the Python
path.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_SRC = r"""
#include <math.h>

/* Generic EWM moment-trail sweep — C twin of
   ewm_numpy._ewm_sweep.  time: all-NaN means "no clock";
   wgt: all-1.0 means unweighted.  s: 10 doubles, mutated.
   trail: n x 8 row-major, zero-initialised by the caller, mutated. */
void ewm_sweep(const double *a, long n, double w, const double *time,
               const double *wgt, double *s, int upto, int track_w2,
               double *trail)
{
    double one_minus_w = 1.0 - w;
    double t = s[0], t0 = s[1], t1 = s[2], t2 = s[3], t3 = s[4];
    double w2 = s[5], n0 = s[6], n1 = s[7], pv = s[8], pa = s[9];
    for (long i = 0; i < n; i++) {
        double ai = a[i];
        if (ai != ai)
            continue;
        double vi = one_minus_w * wgt[i];
        double ti = time[i];
        if (ti == t) { /* NaN never equals NaN -> only real clocks */
            t0 = t0 + vi - pv;
            t1 = t1 + vi * ai - pv * pa;
            if (upto >= 2)
                t2 = t2 + vi * ai * ai - pv * pa * pa;
            if (upto >= 3)
                t3 = t3 + vi * ai * ai * ai - pv * pa * pa * pa;
        } else {
            double p;
            if (ti != ti || t != t)
                p = w;
            else
                p = pow(w, ti - t);
            n1 += 1.0;
            n0 = n0 * p + one_minus_w;
            t0 = t0 * p + vi;
            t1 = t1 * p + vi * ai;
            if (upto >= 2)
                t2 = t2 * p + vi * ai * ai;
            if (upto >= 3)
                t3 = t3 * p + vi * ai * ai * ai;
            if (track_w2)
                w2 = w2 * p * p + vi * vi;
            t = ti;
        }
        pv = vi;
        pa = ai;
        double *row = trail + i * 8;
        row[0] = t0;
        row[1] = t1;
        /* untracked moment columns stay 0 — bit-parity with the
           Python loop, which only writes the tracked columns */
        if (upto >= 2)
            row[2] = t2;
        if (upto >= 3)
            row[3] = t3;
        if (track_w2)
            row[4] = w2;
        row[5] = n0;
        row[6] = n1;
        row[7] = 1.0;
    }
    s[0] = t; s[1] = t0; s[2] = t1; s[3] = t2; s[4] = t3;
    s[5] = w2; s[6] = n0; s[7] = n1; s[8] = pv; s[9] = pa;
}

/* Guarded (exc_zero / max_move) rms/std sweep — C twin of
   ewm_numpy._guarded_sweep.  s: GSTATE_LEN=14 doubles. */
void guarded_sweep(const double *a, long n, const double *time,
                   const double *wgt, double w, int exc_zero,
                   const double *mm_arr, double min_periods,
                   double min_sample, int is_std, int bias,
                   double *s, double *res)
{
    double omw = 1.0 - w;
    double t = s[0], t0 = s[1], t1 = s[2], t2 = s[3];
    double w2 = s[5], n0 = s[6], n1 = s[7], pv = s[8], pa = s[9];
    double t1u = s[10], t2u = s[11], prev_res = s[12], pa_raw = s[13];
    for (long i = 0; i < n; i++) {
        double araw = a[i];
        if (araw != araw)
            continue;
        double mm = mm_arr[i];
        double vol, bound;
        int clip_ok;
        if (is_std) {
            bound = (mm > 0) ? prev_res * mm : 0.0;
            if (n0 < min_sample || n1 < min_periods) {
                vol = NAN;
            } else if (t0 <= 0) {
                vol = NAN;
            } else {
                double variance = t2u / t0 - pow(t1u / t0, 2.0);
                if (variance < 0) {
                    vol = NAN;
                } else if (bias) {
                    vol = sqrt(variance);
                } else {
                    double r = 1.0 - w2 / (t0 * t0);
                    vol = (r > 0) ? sqrt(variance / r) : NAN;
                }
            }
            clip_ok = (mm > 0) && (vol > 0) && (bound == bound) && (bound > 0);
        } else {
            vol = (t0 == 0) ? 0.0 : sqrt(t2u / t0);
            bound = vol * mm;
            clip_ok = (mm > 0) && (vol > 0);
        }
        double ai;
        if (clip_ok) {
            /* python min(max(araw, -bound), bound): max keeps the first
               arg on ties, min keeps the first arg on ties */
            double m = araw;
            if (-bound > m)
                m = -bound;
            ai = m;
            if (bound < ai)
                ai = bound;
        } else {
            ai = araw;
        }
        double vi = omw * wgt[i];
        double ti = time[i];
        if (exc_zero && ai == 0) {
            /* state untouched */
        } else if (ti == t) {
            t0 = t0 + vi - pv;
            t1 = t1 + vi * ai - pv * pa;
            t2 = t2 + vi * ai * ai - pv * pa * pa;
            t1u = t1u + vi * araw - pv * pa_raw;
            t2u = t2u + vi * araw * araw - pv * pa_raw * pa_raw;
        } else {
            double p;
            if (ti != ti || t != t)
                p = w;
            else
                p = pow(w, ti - t);
            n1 += 1.0;
            n0 = n0 * p + omw;
            w2 = w2 * p * p + vi * vi;
            t0 = t0 * p + vi;
            t1 = t1 * p + vi * ai;
            t2 = t2 * p + vi * ai * ai;
            t1u = t1u * p + vi * araw;
            t2u = t2u * p + vi * araw * araw;
            t = ti;
        }
        pv = vi;
        pa = ai;
        pa_raw = araw;
        if (is_std) {
            if (n0 < min_sample || n1 < min_periods) {
                res[i] = NAN;
            } else if (t0 <= 0) {
                res[i] = NAN;
            } else {
                double variance = t2 / t0 - pow(t1 / t0, 2.0);
                if (variance < 0) {
                    res[i] = NAN;
                } else if (bias) {
                    res[i] = sqrt(variance);
                } else {
                    double r = 1.0 - w2 / (t0 * t0);
                    res[i] = (r > 0) ? sqrt(variance / r) : NAN;
                }
            }
        } else {
            res[i] = (t0 == 0 || n1 < min_periods) ? NAN : sqrt(t2 / t0);
        }
        prev_res = res[i];
    }
    s[0] = t; s[1] = t0; s[2] = t1; s[3] = t2;
    s[5] = w2; s[6] = n0; s[7] = n1; s[8] = pv; s[9] = pa;
    s[10] = t1u; s[11] = t2u; s[12] = prev_res; s[13] = pa_raw;
}

/* Pairwise EWM sweep — C twin of pairwise_numpy._xsweep.
   s: 12 doubles; trail: n x 10 row-major, zero-initialised. */
void xsweep(const double *a, const double *b, long n, double w,
            const double *time, double *s, double *trail)
{
    double one_minus_w = 1.0 - w;
    double t = s[0], t0 = s[1], a1 = s[2], a2 = s[3];
    double b1 = s[4], b2 = s[5], ab = s[6], w2 = s[7];
    double n0 = s[8], n1 = s[9], pa = s[10], pb = s[11];
    for (long i = 0; i < n; i++) {
        double ai = a[i], bi = b[i];
        if (ai != ai || bi != bi)
            continue;
        double ti = time[i];
        if (ti == t) {
            a1 = a1 + one_minus_w * (ai - pa);
            a2 = a2 + one_minus_w * (ai * ai - pa * pa);
            b1 = b1 + one_minus_w * (bi - pb);
            b2 = b2 + one_minus_w * (bi * bi - pb * pb);
            ab = ab + one_minus_w * (ai * bi - pa * pb);
        } else {
            double p;
            if (ti != ti || t != t)
                p = w;
            else
                p = pow(w, ti - t);
            n1 += 1.0;
            n0 = n0 * p + one_minus_w;
            t0 = t0 * p + one_minus_w;
            a1 = a1 * p + one_minus_w * ai;
            a2 = a2 * p + one_minus_w * ai * ai;
            b1 = b1 * p + one_minus_w * bi;
            b2 = b2 * p + one_minus_w * bi * bi;
            ab = ab * p + one_minus_w * ai * bi;
            w2 = w2 * p * p + one_minus_w * one_minus_w;
            t = ti;
        }
        pa = ai;
        pb = bi;
        double *row = trail + i * 10;
        row[0] = t0;
        row[1] = a1;
        row[2] = a2;
        row[3] = b1;
        row[4] = b2;
        row[5] = ab;
        row[6] = w2;
        row[7] = n0;
        row[8] = n1;
        row[9] = 1.0;
    }
    s[0] = t; s[1] = t0; s[2] = a1; s[3] = a2;
    s[4] = b1; s[5] = b2; s[6] = ab; s[7] = w2;
    s[8] = n0; s[9] = n1; s[10] = pa; s[11] = pb;
}

/* Local-level Kalman filtered sweep — C twin of
   operators/kalman.py:kalman_kernel.  s: [seen, level, P], mutated;
   res pre-filled with NaN by the caller.  Identical IEEE-754 op order
   to the Python loop (no FMA, no reassociation). */
void kalman_sweep(const double *a, long n, double q, double r,
                  double *s, double *res)
{
    double seen = s[0], lvl = s[1], p = s[2];
    for (long i = 0; i < n; i++) {
        double x = a[i];
        if (x != x)
            continue;
        if (seen == 0.0) {
            lvl = x;
            p = r;
            seen = 1.0;
        } else {
            double p_pred = p + q;
            double k = p_pred / (p_pred + r);
            lvl = lvl + k * (x - lvl);
            p = (1.0 - k) * p_pred;
        }
        res[i] = lvl;
    }
    s[0] = seen;
    s[1] = lvl;
    s[2] = p;
}

/* Holt linear-trend sweep — C twin of operators/holt.py:holt_kernel.
   s: [seen, level, trend], mutated; res pre-filled with NaN. */
void holt_sweep(const double *a, long n, double alpha, double beta,
                double horizon, double *s, double *res)
{
    double seen = s[0], lvl = s[1], trd = s[2];
    for (long i = 0; i < n; i++) {
        double x = a[i];
        if (x != x)
            continue;
        if (seen == 0.0) {
            lvl = x;
            trd = 0.0;
            seen = 1.0;
        } else {
            double prev = lvl;
            lvl = alpha * x + (1.0 - alpha) * (lvl + trd);
            trd = beta * (lvl - prev) + (1.0 - beta) * trd;
        }
        res[i] = lvl + horizon * trd;
    }
    s[0] = seen;
    s[1] = lvl;
    s[2] = trd;
}

/* Additive Holt-Winters sweep — C twin of
   operators/holt.py:holt_winters_kernel.  s: [seen, level, trend,
   s_0..s_{m-1}] (3+m doubles), mutated; res pre-filled with NaN. */
void hw_sweep(const double *a, long n, double alpha, double beta,
              double gamma_, long m, double *s, double *res)
{
    double seen = s[0], lvl = s[1], trd = s[2];
    double *sea = s + 3;
    for (long i = 0; i < n; i++) {
        double x = a[i];
        if (x != x)
            continue;
        long t = (long)seen;
        long p = t % m;
        if (t < m) {
            sea[p] = x;
            res[i] = x;
            seen = (double)(t + 1);
            if (t + 1 == m) {
                /* sequential left-fold, matching the Python loop */
                double total = 0.0;
                for (long j = 0; j < m; j++)
                    total += sea[j];
                lvl = total / (double)m;
                trd = 0.0;
                for (long j = 0; j < m; j++)
                    sea[j] = sea[j] - lvl;
            }
            continue;
        }
        double s_old = sea[p];
        double new_lvl = alpha * (x - s_old) + (1.0 - alpha) * (lvl + trd);
        double new_trd = beta * (new_lvl - lvl) + (1.0 - beta) * trd;
        double new_sea = gamma_ * (x - lvl - trd) + (1.0 - gamma_) * s_old;
        lvl = new_lvl;
        trd = new_trd;
        sea[p] = new_sea;
        res[i] = lvl + sea[p];
        seen = (double)(t + 1);
    }
    s[0] = seen;
    s[1] = lvl;
    s[2] = trd;
}

static double sgn(double x)
{
    if (x != x)
        return x;
    return (x > 0) ? 1.0 : ((x < 0) ? -1.0 : 0.0);
}

/* Z-filter outlier clamp — C twin of recurrence_numpy.zmooth.
   s: [t0, t2, prev]; res pre-filled with NaN. */
void zmooth(const double *a, const double *smooth, long n, double w,
            double max_move, int exc_zero, double *s, double *res)
{
    double one_minus_w = 1.0 - w;
    double t0 = s[0], t2 = s[1], prev = s[2];
    double vol = (t0 == 0) ? 0.0 : sqrt(t2 / t0);
    for (long i = 0; i < n; i++) {
        double ai = a[i];
        if (ai != ai)
            continue;
        if (prev != prev) {
            res[i] = ai;
        } else {
            double v = ai - prev;
            double sign = sgn(v);
            if (vol > 0 && fabs(v) > max_move * vol) {
                double si = smooth[i];
                if (si != si)
                    v = sign * max_move * vol;
                else if (sgn(si - prev) == sign)
                    v = si - prev;
                else
                    v = 0.0;
            }
            res[i] = prev + v;
            if (!(exc_zero && v == 0)) {
                t0 = t0 * w + one_minus_w;
                t2 = t2 * w + one_minus_w * v * v;
                vol = (t0 == 0) ? 0.0 : sqrt(t2 / t0);
            }
        }
        prev = res[i];
    }
    s[0] = t0; s[1] = t2; s[2] = prev;
}

/* Hysteresis band — C twin of recurrence_numpy.buffer.
   s: [pos, band_carry]; res pre-filled with NaN. */
void buffer_sweep(const double *a, const double *band, long n, double unit,
                  double rounding_band, double *s, double *res)
{
    double pos = s[0], b = s[1];
    if (pos != pos)
        pos = 0.0;
    for (long i = 0; i < n; i++) {
        double ai = a[i];
        if (ai != ai)
            continue;
        double bi = band[i];
        if (bi == bi)
            b = bi;
        double lb, ub;
        if (unit != 0.0) {
            double b_in_unit = b / unit;
            if (rounding_band > b_in_unit)
                b_in_unit = rounding_band;
            double a_in_unit = ai / unit;
            double dl = a_in_unit - b_in_unit;
            double du = a_in_unit + b_in_unit;
            lb = (floor(fabs(dl) + 0.5) * ((dl >= 0) ? 1.0 : -1.0)) * unit;
            ub = (floor(fabs(du) + 0.5) * ((du >= 0) ? 1.0 : -1.0)) * unit;
        } else {
            lb = ai - b;
            ub = ai + b;
        }
        if (pos < lb)
            pos = lb;
        else if (pos > ub)
            pos = ub;
        res[i] = pos;
    }
    s[0] = pos;
    s[1] = b;
}
"""

_D = ctypes.POINTER(ctypes.c_double)
_SIGNATURES = {
    "ewm_sweep": [_D, ctypes.c_long, ctypes.c_double, _D, _D, _D,
                  ctypes.c_int, ctypes.c_int, _D],
    "guarded_sweep": [_D, ctypes.c_long, _D, _D, ctypes.c_double,
                      ctypes.c_int, _D, ctypes.c_double, ctypes.c_double,
                      ctypes.c_int, ctypes.c_int, _D, _D],
    "xsweep": [_D, _D, ctypes.c_long, ctypes.c_double, _D, _D, _D],
    "zmooth": [_D, _D, ctypes.c_long, ctypes.c_double, ctypes.c_double,
               ctypes.c_int, _D, _D],
    "buffer_sweep": [_D, _D, ctypes.c_long, ctypes.c_double,
                     ctypes.c_double, _D, _D],
    "kalman_sweep": [_D, ctypes.c_long, ctypes.c_double, ctypes.c_double,
                     _D, _D],
    "holt_sweep": [_D, ctypes.c_long, ctypes.c_double, ctypes.c_double,
                   ctypes.c_double, _D, _D],
    "hw_sweep": [_D, ctypes.c_long, ctypes.c_double, ctypes.c_double,
                 ctypes.c_double, ctypes.c_long, _D, _D],
}

_CFLAGS = ["-O2", "-fPIC", "-shared", "-ffp-contract=off", "-fno-builtin-pow"]

_lib = None
_tried = False


def _compile() -> str | None:
    """Compile _SRC to a content-hash-cached .so; return its path."""
    tag = hashlib.md5((_SRC + " ".join(_CFLAGS)).encode()).hexdigest()[:16]
    cache_dir = os.environ.get(
        "PYG_TS_CNATIVE_DIR",
        os.path.join(tempfile.gettempdir(), "pyg_ts_cnative"),
    )
    os.makedirs(cache_dir, exist_ok=True)
    so_path = os.path.join(cache_dir, f"kernels_{tag}.so")
    if os.path.exists(so_path):
        return so_path
    c_path = os.path.join(cache_dir, f"kernels_{tag}.c")
    with open(c_path, "w") as fh:
        fh.write(_SRC)
    tmp_so = so_path + f".tmp{os.getpid()}"
    cmd = ["cc", *_CFLAGS, c_path, "-o", tmp_so, "-lm"]
    try:
        subprocess.run(cmd, check=True, capture_output=True, timeout=60)
    except Exception:
        return None
    os.replace(tmp_so, so_path)  # atomic under concurrent workers
    return so_path


def _load():
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("PYG_TS_DISABLE_CNATIVE"):
        return None
    so_path = _compile()
    if so_path is None:
        return None
    try:
        lib = ctypes.CDLL(so_path)
        for name, argtypes in _SIGNATURES.items():
            fn = getattr(lib, name)
            fn.argtypes = argtypes
            fn.restype = None
    except Exception:
        return None
    _lib = lib
    return _lib


def available() -> bool:
    return _load() is not None


def _ptr(arr: np.ndarray):
    return arr.ctypes.data_as(_D)


def ewm_sweep_arrays(a, w, time, wgt, s, upto, track_w2, trail) -> None:
    """ctypes shim for the ewm_sweep twin (arrays contiguous float64;
    time all-NaN == no clock, wgt all-1 == unweighted; s and trail are
    mutated)."""
    lib = _load()
    lib.ewm_sweep(
        _ptr(a), a.shape[0], float(w), _ptr(time), _ptr(wgt), _ptr(s),
        int(upto), int(bool(track_w2)), _ptr(trail),
    )


def guarded_sweep_arrays(a, time, wgt, w, exc_zero, mm_arr, min_periods,
                         min_sample, is_std, bias, s, res) -> None:
    """ctypes shim for the guarded_sweep twin (mm_arr all-0 == no
    max_move; s in the GSTATE layout and res are mutated)."""
    lib = _load()
    lib.guarded_sweep(
        _ptr(a), a.shape[0], _ptr(time), _ptr(wgt), float(w),
        int(bool(exc_zero)), _ptr(mm_arr), float(min_periods),
        float(min_sample), int(bool(is_std)), int(bool(bias)),
        _ptr(s), _ptr(res),
    )


def xsweep_arrays(a, b, w, time, s, trail) -> None:
    """ctypes shim for the xsweep twin (s and trail are mutated)."""
    lib = _load()
    lib.xsweep(_ptr(a), _ptr(b), a.shape[0], float(w), _ptr(time),
               _ptr(s), _ptr(trail))


def zmooth_arrays(a, smooth, w, max_move, exc_zero, s, res) -> None:
    """ctypes shim for the zmooth twin (smooth all-NaN == no smooth
    series; s = [t0, t2, prev] and res are mutated)."""
    lib = _load()
    lib.zmooth(_ptr(a), _ptr(smooth), a.shape[0], float(w),
               float(max_move), int(bool(exc_zero)), _ptr(s), _ptr(res))


def buffer_arrays(a, band, unit, rounding_band, s, res) -> None:
    """ctypes shim for the buffer twin (band per row; s = [pos,
    band_carry] and res are mutated)."""
    lib = _load()
    lib.buffer_sweep(_ptr(a), _ptr(band), a.shape[0], float(unit),
                     float(rounding_band), _ptr(s), _ptr(res))


def kalman_arrays(a, q, r, s, res) -> None:
    """ctypes shim with operators/kalman.py:kalman_kernel's loop contract
    (a contiguous float64; s = [seen, level, P] and res mutated)."""
    lib = _load()
    lib.kalman_sweep(_ptr(a), a.shape[0], float(q), float(r),
                     _ptr(s), _ptr(res))


def holt_arrays(a, alpha, beta, horizon, s, res) -> None:
    """ctypes shim with operators/holt.py:holt_kernel's loop contract."""
    lib = _load()
    lib.holt_sweep(_ptr(a), a.shape[0], float(alpha), float(beta),
                   float(horizon), _ptr(s), _ptr(res))


def hw_arrays(a, alpha, beta, gamma, m, s, res) -> None:
    """ctypes shim with operators/holt.py:holt_winters_kernel's loop
    contract (s = [seen, level, trend, s_0..s_{m-1}])."""
    lib = _load()
    lib.hw_sweep(_ptr(a), a.shape[0], float(alpha), float(beta),
                 float(gamma), int(m), _ptr(s), _ptr(res))


class disabled:
    """Context manager forcing the pure-Python path (parity tests)."""

    def __enter__(self):
        global _lib, _tried
        _load()  # make sure the restore sees a loaded lib
        self._saved = (_lib, _tried)
        _lib, _tried = None, True
        return self

    def __exit__(self, *exc):
        global _lib, _tried
        _lib, _tried = self._saved
        return False
