#!/bin/sh
# Build the --py-files artifact for spark-submit (SURVEY.md §3.1):
#   sh package.sh && spark-submit --py-files dist/spardaqus_spark.zip main.py ...
set -e
cd "$(dirname "$0")"
mkdir -p dist
rm -f dist/spardaqus_spark.zip
python -c "
from spardaqus_spark.session import package_zip
package_zip('dist/spardaqus_spark.zip')
print('wrote dist/spardaqus_spark.zip')
"
