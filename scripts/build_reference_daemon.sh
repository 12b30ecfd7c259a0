#!/bin/bash
# Hand-build of the reference C daemon (scons is not installed in this
# sandbox; flags mirror /root/reference/SConstruct, minus -Werror since
# 2015-era C on a modern gcc emits new warnings). Outputs
# target/refbloomd/bloomd; the reference tree is read-only and untouched.
set -e
REF=/root/reference
OUT=${1:-/root/repo/target/refbloomd}
mkdir -p "$OUT"
cd "$OUT"
if [ -x bloomd ]; then echo "bloomd already built at $OUT/bloomd"; exit 0; fi
# fail in one line, before any compile, when the reference tree is absent
for d in "$REF/csrc" "$REF/deps"; do
  if [ ! -d "$d" ]; then echo "reference daemon sources missing: $d not found" >&2; exit 2; fi
done

CXXFLAGS="-fno-exceptions -O2 -fno-semantic-interposition"
for f in "$REF"/deps/spookyhash/*.cpp; do g++ $CXXFLAGS -I"$REF/deps/spookyhash" -c "$f" -o "spooky_$(basename "$f" .cpp).o"; done
for f in "$REF"/deps/murmurhash/*.cpp; do g++ $CXXFLAGS -I"$REF/deps/murmurhash" -c "$f" -o "murmur_$(basename "$f" .cpp).o"; done

CFLAGS_BLOOM="-std=c99 -Wall -Wextra -O2 -D_GNU_SOURCE"
for f in "$REF"/csrc/libbloom/*.c; do gcc $CFLAGS_BLOOM -I"$REF/csrc/libbloom" -c "$f" -o "bloom_$(basename "$f" .c).o"; done

gcc -O2 -I"$REF/deps/inih" -c "$REF/deps/inih/ini.c" -o inih_ini.o

INC="-I$REF/csrc/bloomd -I$REF/deps/inih -I$REF/deps/libev -I$REF/csrc/libbloom"
CFLAGS_D="-std=c99 -D_GNU_SOURCE -O2 -pthread $INC"
for m in config barrier conn_handler filter filter_manager background art bloomd; do
  gcc $CFLAGS_D -c "$REF/csrc/bloomd/$m.c" -o "d_$m.o"
done
# networking.c textually includes ev.c (SConstruct builds it without -Werror)
gcc -std=gnu99 -D_GNU_SOURCE -O2 -pthread $INC -c "$REF/csrc/bloomd/networking.c" -o d_networking.o

g++ -O2 -pthread -o bloomd d_*.o bloom_*.o murmur_*.o spooky_*.o inih_ini.o -lpthread -lm -lrt
echo "built $OUT/bloomd"
