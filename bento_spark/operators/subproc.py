"""``subprocess`` / ``command`` processors: pipe message content
through an external program, line-per-message.

Reference: internal/impl/pure/processor_subprocess.go (long-lived
child, one line in -> one line out) and processor_command.go (one
exec per batch). Spark spelling: ONE child process per partition,
fed every Arrow batch of the partition inside ``mapInPandas`` — the
legitimate per-partition imperative case, and it runs on streams; the
child amortizes across every row in the partition exactly like the
reference's long-lived subprocess. Content goes in as newline-joined
UTF-8, comes back 1:1 by order (count mismatch errors the partition —
same contract as the reference's codec=lines).

`awk` programs run as subprocess(["awk", prog]) — the reference's awk
processor is this with a fixed argv.
"""

from __future__ import annotations

import subprocess as _sp

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def subprocess_processor(
    df: DataFrame, col: str, argv: list[str], timeout: float = 60.0
) -> DataFrame:
    """Replace ``col`` with the child's corresponding output line."""
    other = [c for c in df.columns if c != col]
    schema = df.select(*other).schema.add(col, "string")

    def run(batches):
        pdf = _whole_partition(batches)
        if pdf is None:
            return
        # trailing newline so N input lines always produce N terminated
        # output lines (an empty final message would otherwise vanish)
        payload = "\n".join(
            "" if v is None else str(v) for v in pdf[col]
        ) + "\n"
        proc = _sp.run(
            argv,
            input=payload.encode(),
            stdout=_sp.PIPE,
            stderr=_sp.PIPE,
            timeout=timeout,
            check=False,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"subprocess {argv!r} exited {proc.returncode}: "
                f"{proc.stderr.decode(errors='replace')[:500]}"
            )
        out_lines = proc.stdout.decode().split("\n")
        if out_lines and out_lines[-1] == "":
            out_lines.pop()
        if len(out_lines) != len(pdf):
            raise RuntimeError(
                f"subprocess {argv!r}: {len(pdf)} lines in, "
                f"{len(out_lines)} out — line-per-message contract broken"
            )
        pdf[col] = out_lines
        yield pdf[schema.names]

    return df.mapInPandas(run, schema)


def _whole_partition(batches):
    """All Arrow batches of a partition as one frame (None when empty):
    the batch-per-child processors start one child per partition."""
    import pandas as pd

    pdfs = list(batches)
    if not sum(len(p) for p in pdfs):
        return None
    return pd.concat(pdfs, ignore_index=True)


def command_per_message(
    df: DataFrame, name: str, args_mapping: str, col: str = "content",
    timeout: float = 60.0,
) -> DataFrame:
    """``command`` with DATA-DRIVEN argv (processor_command.go): one
    exec per message — the reference's own execution model for this
    processor — with args resolved per row by the tier-c Bloblang
    interpreter. stdout replaces the content; a non-zero exit sets
    ``_error``."""
    from bento_spark.operators.envelope import (
        META, MessageError, ensure_envelope, per_message,
    )

    df = ensure_envelope(df)
    if col not in df.columns:
        df = df.withColumn(col, F.lit(None).cast("string"))
    src = args_mapping if args_mapping.strip().startswith("root") else (
        "root = " + args_mapping
    )

    def call(row):
        from bento_spark.bloblang.interp import interpret_mapping

        content = row[col]
        args, _ = interpret_mapping(src, content or "", dict(row[META] or {}))
        if not isinstance(args, (list, tuple)):
            args = [] if args is None else [args]
        proc = _sp.run(
            [name, *[str(a) for a in args]],
            input=(content or "").encode(),
            stdout=_sp.PIPE, stderr=_sp.PIPE,
            timeout=timeout, check=False,
        )
        if proc.returncode != 0:
            raise MessageError(
                f"command exited {proc.returncode}: "
                f"{proc.stderr.decode(errors='replace')[:200]}"
            )
        return proc.stdout.decode(errors="replace").rstrip("\n")

    return per_message(
        df, call, out=col,
        errors={Exception: lambda ex: f"command: {type(ex).__name__}: {ex}"},
    )


def awk_processor(df: DataFrame, col: str, program: str) -> DataFrame:
    """``awk`` processor: the program runs on each message line."""
    return subprocess_processor(df, col, ["awk", program])


def register_pipeline_processors() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _proc_subprocess(df: DataFrame, conf) -> DataFrame:
        if isinstance(conf, dict) and "name" in conf and "args" not in conf:
            # the `command` doc shape: {name, args_mapping: '["-h"]'}
            # (processor_command.go — one exec PER MESSAGE by contract)
            import json as _json

            am = conf.get("args_mapping") or "[]"
            body = am.split("=", 1)[1].strip() if am.strip().startswith("root") else am
            try:
                extra = _json.loads(body.replace("'", '"'))
            except ValueError:
                # data-driven argv: the reference execs per message
                # anyway, so the dynamic form pays no extra cost —
                # args resolve through the tier-c interpreter per row
                return command_per_message(
                    df, conf["name"], am, conf.get("column", "content")
                )
            argv = [conf["name"], *[str(a) for a in extra]]
            return subprocess_processor(df, conf.get("column", "content"), argv)
        argv = conf["args"] if isinstance(conf, dict) else conf
        col = conf.get("column", "content") if isinstance(conf, dict) else "content"
        if isinstance(argv, str):
            argv = argv.split()
        return subprocess_processor(df, col, list(argv))

    def _proc_awk(df: DataFrame, conf) -> DataFrame:
        program = conf if isinstance(conf, str) else conf.get("program", conf)
        if isinstance(program, str) and any(
            fn in program for fn in (
                "json_get", "json_set", "json_append", "json_delete",
                "json_length", "json_type", "metadata_get", "metadata_set",
                "print_log", "create_json_object", "create_json_array",
                "timestamp_unix", "timestamp_format",
                "base64_encode", "base64_decode",
            )
        ):
            return awk_bento_processor(df, program)
        prog = conf["program"] if isinstance(conf, dict) else conf
        col = conf.get("column", "content") if isinstance(conf, dict) else "content"
        return awk_processor(df, col, prog)

    PROCESSORS.setdefault("subprocess", _proc_subprocess)
    PROCESSORS.setdefault("command", _proc_subprocess)
    PROCESSORS.setdefault("awk", _proc_awk)


register_pipeline_processors()


# The reference's awk dialect builtins (internal/impl/awk/processor.go:
# 478-586) over a FLATTENED document: the Python side flattens the JSON
# document into path -> (type, value) pairs (gabs-style dotted paths,
# numeric segments = array indices) and rebuilds it afterwards, so
# json_get("path.to.foos.0") / json_append / json_length work on
# arbitrary nesting with plain awk arrays — no JSON parsing in awk.
# Types: s=string n=number b=bool z=null o=object a=array(value=length).
_AWK_PRELUDE = r'''
function __unesc(s) {
  gsub(/%09/, "\t", s); gsub(/%0A/, "\n", s); gsub(/%1D/, "\035", s)
  gsub(/%1E/, "\036", s); gsub(/%1F/, "\037", s); gsub(/%25/, "%", s)
  return s
}
function __esc(s) {
  gsub(/%/, "%25", s); gsub(/\t/, "%09", s); gsub(/\n/, "%0A", s)
  gsub(/\035/, "%1D", s); gsub(/\036/, "%1E", s); gsub(/\037/, "%1F", s)
  return s
}
function __set(p, v, t) {
  if (!(p in __kt)) { __ord[++__nord] = p }
  __kv[p] = v; __kt[p] = t
  return 0
}
function json_get(p) {
  if (p in __kv) {
    if (__kt[p] == "n") return __kv[p] + 0
    return __kv[p]
  }
  return ""
}
function json_set(p, v) { return __set(p, v "", "s") }
function json_set_int(p, v) { return __set(p, int(v + 0) "", "n") }
function json_set_float(p, v) { return __set(p, (v + 0) "", "n") }
function json_set_bool(p, v) { return __set(p, (v ? "true" : "false"), "b") }
function __append(p, v, t,   i) {
  if (__kt[p] != "a") { __set(p, "0", "a") }
  i = __kv[p] + 0
  __set(p "." i, v, t)
  __kv[p] = i + 1
  return 0
}
function json_append(p, v) { return __append(p, v "", "s") }
function json_append_int(p, v) { return __append(p, int(v + 0) "", "n") }
function json_append_float(p, v) { return __append(p, (v + 0) "", "n") }
function json_append_bool(p, v) { return __append(p, (v ? "true" : "false"), "b") }
function json_length(p) {
  if (__kt[p] == "a") return __kv[p] + 0
  if (__kt[p] == "s") return length(__kv[p])
  return 0
}
function json_delete(p,   i, pre) {
  if (p in __kt) { delete __kt[p]; delete __kv[p] }
  pre = p "."
  for (i = 1; i <= __nord; i++) {
    if (index(__ord[i], pre) == 1 && (__ord[i] in __kt)) {
      delete __kt[__ord[i]]; delete __kv[__ord[i]]
    }
  }
  return 0
}
function json_type(p,   t) {
  if (!(p in __kt)) return "undefined"
  t = __kt[p]
  if (t == "s") return "string"
  if (t == "n") return "float64"
  if (t == "b") return "bool"
  if (t == "z") return "null"
  if (t == "a") return "array"
  return "object"
}
function metadata_get(k) { return __meta[k] }
function metadata_set(k, v) { __meta[k] = v; return "" }
function print_log(value, level) {
  print level ": " value | "cat 1>&2"
  return ""
}
function __days_from_civil(y, m, d,   era, yoe, doy, doe) {
  # Howard Hinnant's civil-date algorithm (public domain), integer math
  y = y - (m <= 2 ? 1 : 0)
  era = int((y >= 0 ? y : y - 399) / 400)
  yoe = y - era * 400
  doy = int((153 * (m + (m > 2 ? -3 : 9)) + 2) / 5) + d - 1
  doe = yoe * 365 + int(yoe / 4) - int(yoe / 100) + doy
  return era * 146097 + doe - 719468
}
function __civil_from_days(z,   era, doe, yoe, doy, mp) {
  era = int((z >= -719468 ? z + 719468 : z + 719468 - 146096) / 146097)
  doe = (z + 719468) - era * 146097
  yoe = int((doe - int(doe/1460) + int(doe/36524) - int(doe/146096)) / 365)
  doy = doe - (365 * yoe + int(yoe/4) - int(yoe/100))
  mp = int((5 * doy + 2) / 153)
  __CD_D = doy - int((153 * mp + 2) / 5) + 1
  __CD_M = mp + (mp < 10 ? 3 : -9)
  __CD_Y = yoe + era * 400 + (__CD_M <= 2 ? 1 : 0)
  return 0
}
function __p2dig(s, at,   v) {
  # strict 2-digit numeric field (Go getnum fixed-width); -1 on mismatch
  v = substr(s, at, 2)
  if (v !~ /^[0-9][0-9]$/) return -1
  return v + 0
}
function __go_parse(ds, fmt,   fi, di, fn, dn, c, v, w, sign, oh, om, j, pad) {
  # Go-layout token parse (time.Parse semantics for the tokens the
  # reference's getTime layouts + user `format` args use): fills
  # __P_Y/MO/D/H/MI/S/OFF/FRAC, returns 0 on full match, 1 otherwise.
  # Named zones (MST token) are consumed but treated as UTC — mawk has
  # no tzdata; only non-UTC abbreviations diverge (documented).
  __P_Y = 1970; __P_MO = 1; __P_D = 1
  __P_H = 0; __P_MI = 0; __P_S = 0; __P_OFF = 0; __P_FRAC = ""
  __P_PM = -1; __P_H12 = 0
  fi = 1; di = 1; fn = length(fmt); dn = length(ds)
  while (fi <= fn) {
    if (substr(fmt, fi, 4) == "2006") {
      v = substr(ds, di, 4)
      if (v !~ /^[0-9][0-9][0-9][0-9]$/) return 1
      __P_Y = v + 0; di += 4; fi += 4
    } else if (substr(fmt, fi, 7) == "January") {
      j = 0
      split("January February March April May June July August September October November December", __FMON, " ")
      for (w = 1; w <= 12; w++) {
        if (substr(ds, di, length(__FMON[w])) == __FMON[w]) { j = w; break }
      }
      if (j == 0) return 1
      __P_MO = j; di += length(__FMON[j]); fi += 7
    } else if (substr(fmt, fi, 6) == "Monday") {
      split("Wednesday Saturday Thursday Tuesday Monday Friday Sunday", __FDOW, " ")
      j = 0
      for (w = 1; w <= 7; w++) {
        if (substr(ds, di, length(__FDOW[w])) == __FDOW[w]) { j = w; break }
      }
      if (j == 0) return 1
      di += length(__FDOW[j]); fi += 6
    } else if (substr(fmt, fi, 3) == "Jan") {
      j = index("JanFebMarAprMayJunJulAugSepOctNovDec", substr(ds, di, 3))
      if (j == 0 || (j - 1) % 3 != 0) return 1
      __P_MO = (j + 2) / 3; di += 3; fi += 3
    } else if (substr(fmt, fi, 3) == "Mon") {
      j = index("MonTueWedThuFriSatSun", substr(ds, di, 3))
      if (j == 0 || (j - 1) % 3 != 0) return 1
      di += 3; fi += 3
    } else if (substr(fmt, fi, 3) == "MST") {
      w = 0
      while (di + w <= dn && substr(ds, di + w, 1) ~ /[A-Za-z]/) w++
      if (w < 2 || w > 5) return 1
      di += w; fi += 3
    } else if (substr(fmt, fi, 6) == "Z07:00" || substr(fmt, fi, 6) == "-07:00" ||
               substr(fmt, fi, 5) == "Z0700" || substr(fmt, fi, 5) == "-0700" ||
               substr(fmt, fi, 3) == "-07") {
      if (substr(fmt, fi, 6) == "Z07:00") { w = 6; pad = "c" }
      else if (substr(fmt, fi, 6) == "-07:00") { w = 6; pad = "c" }
      else if (substr(fmt, fi, 5) == "Z0700") { w = 5; pad = "n" }
      else if (substr(fmt, fi, 5) == "-0700") { w = 5; pad = "n" }
      else { w = 3; pad = "h" }
      c = substr(ds, di, 1)
      if (substr(fmt, fi, 1) == "Z" && c == "Z") {
        __P_OFF = 0; di += 1; fi += w
      } else {
        if (c != "+" && c != "-") return 1
        sign = (c == "-") ? -1 : 1
        oh = __p2dig(ds, di + 1)
        if (oh < 0) return 1
        if (pad == "c") {
          if (substr(ds, di + 3, 1) != ":") return 1
          om = __p2dig(ds, di + 4)
          if (om < 0) return 1
          di += 6
        } else if (pad == "n") {
          om = __p2dig(ds, di + 3)
          if (om < 0) return 1
          di += 5
        } else { om = 0; di += 3 }
        __P_OFF = sign * (oh * 3600 + om * 60)
        fi += w
      }
    } else if (substr(fmt, fi, 2) == "_2") {
      if (substr(ds, di, 1) == " ") {
        v = substr(ds, di + 1, 1)
        if (v !~ /^[0-9]$/) return 1
        __P_D = v + 0; di += 2
      } else {
        __P_D = __p2dig(ds, di)
        if (__P_D < 0) return 1
        di += 2
      }
      fi += 2
    } else if (substr(fmt, fi, 2) == "01") {
      __P_MO = __p2dig(ds, di); if (__P_MO < 0) return 1
      di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "02") {
      __P_D = __p2dig(ds, di); if (__P_D < 0) return 1
      di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "15") {
      __P_H = __p2dig(ds, di); if (__P_H < 0) return 1
      di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "03") {
      __P_H = __p2dig(ds, di); if (__P_H < 0) return 1
      __P_H12 = 1; di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "04") {
      __P_MI = __p2dig(ds, di); if (__P_MI < 0) return 1
      di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "05") {
      __P_S = __p2dig(ds, di); if (__P_S < 0) return 1
      di += 2; fi += 2
      di = __eat_frac(ds, di, fmt, fi)
    } else if (substr(fmt, fi, 2) == "06") {
      v = __p2dig(ds, di); if (v < 0) return 1
      __P_Y = (v >= 69) ? 1900 + v : 2000 + v
      di += 2; fi += 2
    } else if (substr(fmt, fi, 2) == "PM" || substr(fmt, fi, 2) == "pm") {
      v = substr(ds, di, 2)
      if (substr(fmt, fi, 2) == "pm") {
        if (v == "pm") __P_PM = 1; else if (v == "am") __P_PM = 0; else return 1
      } else {
        if (v == "PM") __P_PM = 1; else if (v == "AM") __P_PM = 0; else return 1
      }
      di += 2; fi += 2
    } else if (substr(fmt, fi, 1) == "." &&
               (substr(fmt, fi + 1, 1) == "0" || substr(fmt, fi + 1, 1) == "9")) {
      c = substr(fmt, fi + 1, 1)
      w = 0
      while (substr(fmt, fi + 1 + w, 1) == c) w++
      if (c == "0") {
        # exact digit count required
        if (substr(ds, di, 1) != ".") return 1
        v = substr(ds, di + 1, w)
        if (v !~ /^[0-9]+$/ || length(v) != w) return 1
        __P_FRAC = v; di += 1 + w
      } else if (substr(ds, di, 1) == ".") {
        # .999...: optional, greedy
        j = 0
        while (di + 1 + j <= dn && substr(ds, di + 1 + j, 1) ~ /[0-9]/) j++
        if (j == 0) return 1
        __P_FRAC = substr(ds, di + 1, j); di += 1 + j
      }
      fi += 1 + w
    } else if (substr(fmt, fi, 1) == "1") {
      di = __p12(ds, di); if (di < 0) return 1
      __P_MO = __P12V; fi += 1
    } else if (substr(fmt, fi, 1) == "2") {
      di = __p12(ds, di); if (di < 0) return 1
      __P_D = __P12V; fi += 1
    } else if (substr(fmt, fi, 1) == "3") {
      di = __p12(ds, di); if (di < 0) return 1
      __P_H = __P12V; __P_H12 = 1; fi += 1
    } else if (substr(fmt, fi, 1) == "4") {
      di = __p12(ds, di); if (di < 0) return 1
      __P_MI = __P12V; fi += 1
    } else if (substr(fmt, fi, 1) == "5") {
      di = __p12(ds, di); if (di < 0) return 1
      __P_S = __P12V; fi += 1
      di = __eat_frac(ds, di, fmt, fi)
    } else {
      if (substr(ds, di, 1) != substr(fmt, fi, 1)) return 1
      di += 1; fi += 1
    }
  }
  if (di != dn + 1) return 1   # trailing unconsumed input (Go: extra text)
  # range validation (Go time.Parse "out of range" errors)
  if (__P_MO < 1 || __P_MO > 12) return 1
  if (__P_MO == 12)
    w = __days_from_civil(__P_Y + 1, 1, 1) - __days_from_civil(__P_Y, 12, 1)
  else
    w = __days_from_civil(__P_Y, __P_MO + 1, 1) - __days_from_civil(__P_Y, __P_MO, 1)
  if (__P_D < 1 || __P_D > w) return 1
  if (__P_H12) { if (__P_H > 12) return 1 } else if (__P_H > 23) return 1
  if (__P_MI > 59 || __P_S > 59) return 1
  if (__P_H12) {
    if (__P_PM == 1 && __P_H < 12) __P_H += 12
    if (__P_PM == 0 && __P_H == 12) __P_H = 0
  }
  return 0
}
function __p12(ds, di,   v) {
  # 1-2 digit numeric field (unpadded Go tokens); returns new di or -1
  v = substr(ds, di, 1)
  if (v !~ /^[0-9]$/) return -1
  if (substr(ds, di + 1, 1) ~ /^[0-9]$/) {
    __P12V = substr(ds, di, 2) + 0
    return di + 2
  }
  __P12V = v + 0
  return di + 1
}
function __eat_frac(ds, di, fmt, fi,   j) {
  # Go time.Parse: an unanticipated fractional second directly after
  # the seconds field is consumed even when the layout lacks .000/.999
  if (substr(fmt, fi, 1) == "." &&
      (substr(fmt, fi + 1, 1) == "0" || substr(fmt, fi + 1, 1) == "9"))
    return di   # the layout declares its own fraction token
  if (substr(ds, di, 1) != ".") return di
  j = 0
  while (substr(ds, di + 1 + j, 1) ~ /^[0-9]$/) j++
  if (j == 0) return di
  __P_FRAC = substr(ds, di + 1, j)
  return di + 1 + j
}
function __parsed_epoch() {
  return __days_from_civil(__P_Y, __P_MO, __P_D) * 86400 \
    + __P_H * 3600 + __P_MI * 60 + __P_S - __P_OFF
}
function __go_detect(ds,   i, n) {
  # getTime's no-format layout list, in order (processor.go:451-464)
  n = split("Mon Jan 02 15:04:05 -0700 2006\tMon, 02 Jan 2006 15:04:05 -0700\tMon, 02 Jan 2006 15:04:05 MST\t2006-01-02T15:04:05Z07:00\t02 Jan 06 15:04 MST\t02 Jan 06 15:04 -0700\tMon, 2 Jan 2006 15:04:05 -0700\t2006-01-02T15:04:05MST\t2006-01-02T15:04:05\t2006-01-02 15:04:05\t2006-01-02T15:04:05Z0700\t2006-01-02", __GOLAYS, "\t")
  for (i = 1; i <= n; i++) {
    if (__go_parse(ds, __GOLAYS[i]) == 0) return 0
  }
  return 1
}
function __ts_fail(msg) {
  # getTime error -> the reference errors the MESSAGE (Process() returns
  # the exec error); surface it through the reserved meta key the
  # Python side lifts into _error, and warn on stderr
  if (!("__awk_error" in __meta)) __meta["__awk_error"] = msg
  print msg | "cat 1>&2"
  return 0
}
function timestamp_unix(dateStr, format) {
  # getTime (processor.go:444-474): empty dateStr = NOW; explicit Go
  # layout via the token parser; otherwise the reference's detection
  # layout list. __NOW is stamped per awk launch (-v).
  __P_FRAC = ""
  if (dateStr == "") return __NOW + 0
  if (format != "") {
    if (__go_parse(dateStr, format) == 0) return __parsed_epoch()
    return __ts_fail("failed to parse datetime '" dateStr "' with format '" format "'")
  }
  if (__go_detect(dateStr) == 0) return __parsed_epoch()
  return __ts_fail("failed to detect datetime format of: " dateStr)
}
function timestamp_unix_nano(dateStr, format,   sec, frac) {
  # int64 ns exceeds awk's exact double range: return the DIGIT STRING
  # (sec * 1e9 + fraction), which json_set/print consume losslessly
  sec = timestamp_unix(dateStr, format)
  frac = __P_FRAC   # stamped by the parse; empty for NOW/failure
  while (length(frac) < 9) { frac = frac "0" }
  return sec substr(frac, 1, 9)
}
function timestamp_format(unix, formatArg,   z,sod,h,mi,s,out,i,n,c,mn,dn) {
  if (formatArg == "") { formatArg = "2006-01-02T15:04:05Z07:00" }
  z = int(unix / 86400)
  sod = unix - z * 86400
  if (sod < 0) { sod += 86400; z -= 1 }
  __civil_from_days(z)
  h = int(sod / 3600); mi = int((sod - h*3600) / 60); s = sod % 60
  split("Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec", __MON, " ")
  split("Thu Fri Sat Sun Mon Tue Wed", __DOW, " ")  # epoch day 0 = Thu
  out = ""; i = 1; n = length(formatArg)
  while (i <= n) {
    if (substr(formatArg, i, 4) == "2006") {
      out = out sprintf("%04d", __CD_Y); i += 4
    } else if (substr(formatArg, i, 6) == "Z07:00") {
      out = out "Z"; i += 6        # formatted in UTC (processor.go:497)
    } else if (substr(formatArg, i, 6) == "-07:00") {
      out = out "+00:00"; i += 6
    } else if (substr(formatArg, i, 5) == "Z0700") {
      out = out "Z"; i += 5
    } else if (substr(formatArg, i, 5) == "-0700") {
      out = out "+0000"; i += 5
    } else if (substr(formatArg, i, 3) == "MST") {
      out = out "UTC"; i += 3
    } else if (substr(formatArg, i, 3) == "Jan") {
      out = out __MON[__CD_M]; i += 3
    } else if (substr(formatArg, i, 3) == "Mon") {
      out = out __DOW[((z % 7) + 7) % 7 + 1]; i += 3
    } else if (substr(formatArg, i, 2) == "01") {
      out = out sprintf("%02d", __CD_M); i += 2
    } else if (substr(formatArg, i, 2) == "02") {
      out = out sprintf("%02d", __CD_D); i += 2
    } else if (substr(formatArg, i, 2) == "15") {
      out = out sprintf("%02d", h); i += 2
    } else if (substr(formatArg, i, 2) == "04") {
      out = out sprintf("%02d", mi); i += 2
    } else if (substr(formatArg, i, 2) == "05") {
      out = out sprintf("%02d", s); i += 2
    } else {
      out = out substr(formatArg, i, 1); i += 1
    }
  }
  return out
}
function timestamp_format_nano(unixNano, formatArg,   sec) {
  # accepts the digit-string form timestamp_unix_nano returns; the
  # sub-second part is dropped by Go's default RFC3339 rendering too
  sec = substr(unixNano "", 1, length(unixNano "") - 9) + 0
  if (length(unixNano "") <= 9) { sec = 0 }
  return timestamp_format(sec, formatArg)
}
function __b64init(   i, c) {
  # one-time tables: mawk has no ord(); build char->code via %c
  if (__B64I) return
  __B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
  for (i = 1; i <= 255; i++) { c = sprintf("%c", i); __ORD[c] = i }
  __B64I = 1
}
function base64_encode(s,   out, i, n, c1, c2, c3, b) {
  # StdEncoding with padding (processor.go base64_encode)
  __b64init()
  out = ""; n = length(s)
  for (i = 1; i <= n; i += 3) {
    c1 = __ORD[substr(s, i, 1)] + 0
    c2 = (i + 1 <= n) ? __ORD[substr(s, i + 1, 1)] + 0 : 0
    c3 = (i + 2 <= n) ? __ORD[substr(s, i + 2, 1)] + 0 : 0
    b = c1 * 65536 + c2 * 256 + c3
    out = out substr(__B64, int(b / 262144) % 64 + 1, 1) \
              substr(__B64, int(b / 4096) % 64 + 1, 1)
    out = out ((i + 1 <= n) ? substr(__B64, int(b / 64) % 64 + 1, 1) : "=")
    out = out ((i + 2 <= n) ? substr(__B64, b % 64 + 1, 1) : "=")
  }
  return out
}
function base64_decode(s,   out, i, n, v, nb, c, p) {
  __b64init()
  gsub(/[\r\n]/, "", s)
  out = ""; n = length(s); v = 0; nb = 0
  for (i = 1; i <= n; i++) {
    c = substr(s, i, 1)
    if (c == "=") break
    p = index(__B64, c)
    if (p == 0) continue
    v = v * 64 + (p - 1); nb += 6
    if (nb >= 8) {
      nb -= 8
      out = out sprintf("%c", int(v / (2 ^ nb)) % 256)
      v = v % (2 ^ nb)
    }
  }
  return out
}
function create_json_object(a,b,c,d,e,f,g,h,i,j,k,l,   s) {
  s = ""
  if (a != "" || b != "") s = s "\"" a "\":\"" b "\""
  if (c != "" || d != "") s = s ",\"" c "\":\"" d "\""
  if (e != "" || f != "") s = s ",\"" e "\":\"" f "\""
  if (g != "" || h != "") s = s ",\"" g "\":\"" h "\""
  if (i != "" || j != "") s = s ",\"" i "\":\"" j "\""
  if (k != "" || l != "") s = s ",\"" k "\":\"" l "\""
  return "{" s "}"
}
function create_json_array(a,b,c,d,e,f,g,h,   s, sep) {
  s = ""
  if (a != "") { s = s "\"" a "\"" }
  if (b != "") { s = s ",\"" b "\"" }
  if (c != "") { s = s ",\"" c "\"" }
  if (d != "") { s = s ",\"" d "\"" }
  if (e != "") { s = s ",\"" e "\"" }
  if (f != "") { s = s ",\"" f "\"" }
  if (g != "") { s = s ",\"" g "\"" }
  if (h != "") { s = s ",\"" h "\"" }
  return "[" s "]"
}
{
  # record framing: metaKV \x1d docKV \x1d rawDoc (fields %-escaped)
  split($0, __SECS, "\035")
  delete __meta
  __n = split(__SECS[1], __MP, "\036")
  for (__i = 1; __i <= __n; __i++) {
    if (__MP[__i] == "") continue
    split(__MP[__i], __MF, "\037")
    __meta[__unesc(__MF[1])] = __unesc(__MF[2])
  }
  delete __kv; delete __kt; delete __ord
  __nord = 0
  __n = split(__SECS[2], __KP, "\036")
  for (__i = 1; __i <= __n; __i++) {
    if (__KP[__i] == "") continue
    split(__KP[__i], __KF, "\037")
    __p = __unesc(__KF[1])
    __kt[__p] = __KF[2]
    __kv[__p] = __unesc(__KF[3])
    __ord[++__nord] = __p
  }
  $0 = __unesc(__SECS[3])
}
'''

_AWK_EPILOGUE = r'''
{
  __out = ""
  for (__i = 1; __i <= __nord; __i++) {
    __p = __ord[__i]
    if (!(__p in __kt)) continue
    __pr = __esc(__p) "\037" __kt[__p] "\037" __esc(__kv[__p])
    __out = __out (__out == "" ? "" : "\036") __pr
    delete __kt[__p]
  }
  __m = ""
  for (__k in __meta) {
    __m = __m (__m == "" ? "" : "\036") __esc(__k) "\037" __esc(__meta[__k])
  }
  print __m "\035" __out "\035" __esc($0)
}
'''


def _awk_escape(s: str) -> str:
    return (
        s.replace("%", "%25").replace("\t", "%09").replace("\n", "%0A")
        .replace("\x1d", "%1D").replace("\x1e", "%1E").replace("\x1f", "%1F")
    )


def _awk_unescape(s: str) -> str:
    return (
        s.replace("%09", "\t").replace("%0A", "\n").replace("%1D", "\x1d")
        .replace("%1E", "\x1e").replace("%1F", "\x1f").replace("%25", "%")
    )


def _awk_flatten(doc, path: str, out: list) -> None:
    """JSON value -> ordered (path, type, value) rows (arrays carry
    their length as the value; numeric path segments are indices)."""
    if isinstance(doc, dict):
        if path:
            out.append((path, "o", ""))
        for k, v in doc.items():
            _awk_flatten(v, f"{path}.{k}" if path else str(k), out)
    elif isinstance(doc, list):
        out.append((path, "a", str(len(doc))))
        for i, v in enumerate(doc):
            _awk_flatten(v, f"{path}.{i}", out)
    elif isinstance(doc, bool):
        out.append((path, "b", "true" if doc else "false"))
    elif doc is None:
        out.append((path, "z", ""))
    elif isinstance(doc, (int, float)):
        v = repr(doc)
        out.append((path, "n", v))
    else:
        out.append((path, "s", str(doc)))


def _awk_rebuild(pairs: list) -> object:
    """(path, type, value) rows back to a JSON document. Containers
    are created on demand (child segment numeric => array)."""
    import json as _json

    root: dict = {}
    arr_len: dict[str, int] = {}

    def ensure(container, seg, next_is_idx):
        if isinstance(container, dict):
            if seg not in container:
                container[seg] = [] if next_is_idx else {}
            return container[seg]
        idx = int(seg)
        while len(container) <= idx:
            container.append(None)
        if container[idx] is None:
            container[idx] = [] if next_is_idx else {}
        return container[idx]

    def setval(container, seg, val):
        if isinstance(container, dict):
            container[seg] = val
        else:
            idx = int(seg)
            while len(container) <= idx:
                container.append(None)
            container[idx] = val

    for p, t, v in pairs:
        segs = p.split(".")
        cur: object = root
        for i, seg in enumerate(segs[:-1]):
            cur = ensure(cur, seg, segs[i + 1].isdigit())
        leaf = segs[-1]
        if t == "o":
            ensure(cur, leaf, False)
        elif t == "a":
            node = ensure(cur, leaf, True)
            if isinstance(node, list):
                arr_len[p] = int(v or 0)
        elif t == "b":
            setval(cur, leaf, v == "true")
        elif t == "z":
            setval(cur, leaf, None)
        elif t == "n":
            try:
                num = _json.loads(v)
            except ValueError:
                num = float(v)
            setval(cur, leaf, num)
        else:
            setval(cur, leaf, v)

    def pad(node, path):
        if isinstance(node, dict):
            for k, child in node.items():
                pad(child, f"{path}.{k}" if path else str(k))
        elif isinstance(node, list):
            want = arr_len.get(path, len(node))
            while len(node) < want:
                node.append(None)
            for i, child in enumerate(node):
                pad(child, f"{path}.{i}")

    pad(root, "")
    return root


def awk_bento_processor(
    df: DataFrame, program: str, content_col: str = "content",
    timeout: float = 60.0,
) -> DataFrame:
    """The reference's awk DIALECT (internal/impl/awk/processor.go:
    478-586): the user program calls json_get/json_set[_int/_float/
    _bool] / json_append* / json_length / json_delete / json_type /
    metadata_get/set / print_log / create_json_* against the message.
    The document is flattened Python-side into gabs-style dotted-path
    rows (numeric segments = array indices) so nested paths and array
    iteration (the awk.md doc examples) work with plain awk arrays;
    the prelude exposes the builtins over those rows and the epilogue
    re-emits them for reconstruction. timestamp_* run on pure integer
    civil-date math (mawk has no strftime/mktime): detection of the
    common ISO layouts, UTC Go-layout token formatting, and a
    digit-string ns form (int64 exceeds awk's exact double range).
    One real /usr/bin/awk per partition, 1:1 line framing."""
    import json as _json

    from pyspark.sql import functions as F

    from bento_spark.operators.envelope import (
        ERROR, META, data_cols, ensure_envelope,
    )

    df = ensure_envelope(df)
    # the document's raw JSON: the content column, the lifted row's
    # original text, or the re-serialized document
    if content_col not in df.columns:
        if "__raw" in df.columns:
            df = df.withColumn(content_col, F.col("__raw"))
        else:
            df = df.withColumn(
                content_col,
                F.to_json(F.struct(*[F.col(c) for c in data_cols(df)])),
            )
        # the awk output REPLACES the document
        df = df.select(
            *[c for c in df.columns
              if c == content_col or c.startswith("_")],
        )
    full = _AWK_PRELUDE + program + _AWK_EPILOGUE
    other = [c for c in df.columns if c != content_col]
    schema = df.select(*other).schema.add(content_col, "string")

    def run(batches):
        pdf = _whole_partition(batches)
        if pdf is None:
            return
        rows = pdf.to_dict("records")
        lines = []
        for r in rows:
            meta = dict(r[META] or {})
            doc = "" if r[content_col] is None else str(r[content_col])
            kv: list = []
            try:
                parsed = _json.loads(doc)
                if isinstance(parsed, (dict, list)):
                    _awk_flatten(parsed, "", kv)
            except ValueError:
                pass  # non-JSON content: json_get() reads as absent
            m_enc = "\x1e".join(
                f"{_awk_escape(str(k))}\x1f{_awk_escape(str(v))}"
                for k, v in meta.items()
            )
            kv_enc = "\x1e".join(
                f"{_awk_escape(p)}\x1f{t}\x1f{_awk_escape(v)}"
                for p, t, v in kv
            )
            lines.append(
                m_enc + "\x1d" + kv_enc + "\x1d"
                + _awk_escape(doc.replace("\n", " "))
            )
        import time as _time

        proc = _sp.run(
            # __NOW backs the no-arg timestamp_unix() (getTime returns
            # time.Now() for empty dateStr) — stamped once per launch
            ["awk", "-v", f"__NOW={int(_time.time())}", full],
            input=("\n".join(lines) + "\n").encode(),
            stdout=_sp.PIPE, stderr=_sp.PIPE, timeout=timeout, check=False,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"awk dialect exited {proc.returncode}: "
                f"{proc.stderr.decode(errors='replace')[:500]}"
            )
        # split on \n ONLY: str.splitlines() also splits on the \x1d /
        # \x1e framing separators (they are Unicode line boundaries)
        out_lines = proc.stdout.decode().split("\n")
        if out_lines and out_lines[-1] == "":
            out_lines.pop()
        if len(out_lines) != len(rows):
            raise RuntimeError(
                f"awk dialect: {len(rows)} in, {len(out_lines)} out"
            )
        metas, contents = [], []
        for r, line in zip(rows, out_lines):
            m_enc, kv_enc, raw_enc = line.split("\x1d")
            pairs = []
            for pr in kv_enc.split("\x1e"):
                if not pr:
                    continue
                pe, t, ve = pr.split("\x1f")
                pairs.append((_awk_unescape(pe), t, _awk_unescape(ve)))
            if pairs:
                out_doc = _json.dumps(
                    _awk_rebuild(pairs), separators=(",", ":"),
                )
            else:
                out_doc = _awk_unescape(raw_enc)
            new_meta = dict(r[META] or {})
            for pr in m_enc.split("\x1e"):
                if not pr:
                    continue
                ke, ve = pr.split("\x1f")
                new_meta[_awk_unescape(ke)] = _awk_unescape(ve)
            # builtins that error in the reference (getTime failures)
            # error the MESSAGE there — lift the reserved key into the
            # envelope's error column (first error wins)
            awk_err = new_meta.pop("__awk_error", None)
            if awk_err is not None:
                # a failed builtin (getTime parse) aborts program.Run in
                # the reference, so Process() errors the message with its
                # ORIGINAL content and metadata — discard the awk run's
                # mutations, not just flag them (ADVICE r11 #5)
                metas.append(dict(r[META] or {}))
                contents.append(r[content_col])
                if r[ERROR] is None:
                    r[ERROR] = awk_err
            else:
                metas.append(new_meta)
                contents.append(out_doc)
        pdf[META] = metas
        pdf[content_col] = contents
        pdf[ERROR] = [r[ERROR] for r in rows]
        yield pdf[schema.names]

    return df.mapInPandas(run, schema)
